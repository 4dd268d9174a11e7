"""FlameLbsDecoder math checks (N16): the real FLAME forward pass
(dpl/flame/flame.py:241-312, dpl/flame/lbs.py:148-250) in numpy, validated
analytically — no torch or reference import, just geometry identities.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder

rng = np.random.default_rng(7)


@pytest.fixture(scope="module")
def dec():
    return FlameLbsDecoder()


def test_rodrigues_identity_and_known_axis(dec):
    R0 = dec._rodrigues(np.zeros((1, 3)))[0]
    np.testing.assert_array_equal(R0, np.eye(3))  # exact at zero pose
    # 90° about z maps x̂→ŷ, ŷ→−x̂, ẑ→ẑ
    Rz = dec._rodrigues(np.array([[0.0, 0.0, np.pi / 2]]))[0]
    want = np.array([[0.0, -1.0, 0.0], [1.0, 0.0, 0.0], [0.0, 0.0, 1.0]])
    np.testing.assert_allclose(Rz, want, atol=1e-7)
    # any rotation matrix: orthogonal, det 1
    # ~1e-8 deviation is inherent: the reference adds 1e-8 to the vector
    # before taking the norm, so the axis is not exactly unit length.
    R = dec._rodrigues(rng.normal(size=(5, 3)))
    np.testing.assert_allclose(
        R @ np.swapaxes(R, 1, 2), np.broadcast_to(np.eye(3), (5, 3, 3)), atol=1e-7
    )
    np.testing.assert_allclose(np.linalg.det(R), 1.0, atol=1e-7)


def test_rest_pose_reduces_to_affine(dec):
    """At rest pose every joint transform is the identity, so the whole
    LBS pipeline must equal the blend-shape affine map — the property the
    DuckDB oracle of flame_decode_landmarks checks in SQL."""
    shape = rng.normal(size=8)
    exp = rng.normal(size=8)
    betas = np.concatenate([shape, exp])
    _, lmks = dec.decode(shape, exp)
    for l in range(len(lmks)):
        base, coefs = dec.rest_landmark_affine(l)
        np.testing.assert_allclose(lmks[l], base + coefs @ betas, atol=1e-12)


def test_global_rotation_is_rigid_about_root_joint(dec):
    """With only a global rotation, every world transform shares rotation R
    and translation j0 − R·j0, so verts = R·(v_rest − j0) + j0 — this pins
    the kinematic chain, the rest-pose correction, and the skinning
    normalization all at once."""
    shape = rng.normal(size=8)
    exp = rng.normal(size=8)
    pose = np.array([0.0, 0.0, np.pi / 2, 0.0, 0.0, 0.0])
    v_rest, _ = dec.decode(shape, exp)
    v_rot, _ = dec.decode(shape, exp, pose)
    R = dec._rodrigues(pose[None, :3])[0]
    betas = np.concatenate([shape, exp])
    v_shaped = dec.template + np.einsum("vcl,l->vc", dec.shapedirs, betas)
    j0 = dec.j_regressor[0] @ v_shaped
    np.testing.assert_allclose(v_rest, v_shaped, atol=1e-12)
    np.testing.assert_allclose(v_rot, (v_shaped - j0) @ R.T + j0, atol=1e-9)


def test_jaw_pose_bends_nonrigidly(dec):
    """A jaw-only pose must (a) move vertices, (b) NOT be a global rigid
    motion (different joints move differently), (c) engage the pose
    corrective blendshapes."""
    shape = np.zeros(8)
    exp = np.zeros(8)
    jaw = np.array([0.0, 0.0, 0.0, 0.3, 0.0, 0.0])
    v0, _ = dec.decode(shape, exp)
    v1, _ = dec.decode(shape, exp, jaw)
    disp = np.linalg.norm(v1 - v0, axis=1)
    assert disp.max() > 1e-3
    # not rigid: per-vertex displacement varies with skinning weights
    assert disp.std() / disp.mean() > 0.01


def test_landmarks_are_barycentric_mix_of_face_corners(dec):
    shape = rng.normal(size=8)
    exp = rng.normal(size=8)
    pose = rng.normal(size=6) * 0.2
    verts, lmks = dec.decode(shape, exp, pose)
    for l in (0, len(lmks) - 1):
        corners = verts[dec.faces[dec.lmk_faces_idx[l]]]
        np.testing.assert_allclose(lmks[l], dec.lmk_bary[l] @ corners, atol=1e-12)


def test_decode_batch_matches_single(dec):
    """decode_batch is batch-invariant: on EMOCA-stub codes, every row of a
    batch of any size, with and without pose, is bit-equal to ``decode`` on
    that row alone. The FLAME node and flame_decode_landmarks decode whole
    pandas batches and rely on it for outputs that do not depend on how
    Arrow cut the batches."""
    from talkinghead_datapipeline_spark.operators.models import EmocaEncoderStub

    enc = EmocaEncoderStub()
    seeds = np.random.default_rng(20261019)
    for B in (1, 2, 3, 7, 13, 64, 257):
        codes = [enc.encode(seeds.bytes(16)) for _ in range(B)]
        shape, exp, pose = (np.stack([c[k] for c in codes]) for k in ("shape", "exp", "pose"))
        for with_pose in (True, False):
            p = pose if with_pose else None
            vb, lb = dec.decode_batch(shape, exp, p)
            for i in range(B):
                v, lm = dec.decode(shape[i], exp[i], None if p is None else p[i])
                assert np.array_equal(vb[i], v) and np.array_equal(lb[i], lm), (B, with_pose, i)


# Decodes 64 EMOCA-stub codes and writes the bytes of (verts, landmarks) to
# argv[1]; prints the kernel the bundled OpenBLAS runs ("" if none is found).
_KERNEL_CHILD = r"""
import ctypes, glob, os, sys
import numpy as np
from talkinghead_datapipeline_spark.operators.models import (
    EmocaEncoderStub, FlameLbsDecoder)

libs = glob.glob(os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs",
                              "libopenblas*"))
core = ""
for name in ("openblas_get_corename64_", "openblas_get_corename"):
    fn = getattr(ctypes.CDLL(libs[0]), name, None) if libs else None
    if fn is not None:
        fn.argtypes, fn.restype = [], ctypes.c_char_p
        core = fn().decode()
        break
enc = EmocaEncoderStub()
seeds = np.random.default_rng(20261019)
codes = [enc.encode(seeds.bytes(16)) for _ in range(64)]
shape, exp, pose = (np.stack([c[k] for c in codes]) for k in ("shape", "exp", "pose"))
v, lm = FlameLbsDecoder().decode_batch(shape, exp, pose)
with open(sys.argv[1], "wb") as f:
    f.write(v.tobytes() + lm.tobytes())
print(core)
"""


def test_decode_batch_same_bits_on_every_blas_kernel(tmp_path):
    """decode_batch gives the same bytes whichever kernel OpenBLAS picks for
    the host's CPU: an SSE3 kernel (Prescott) rounds a multiply-add twice,
    an FMA kernel (Haswell) once, and a ``@`` left in the decoder would
    tell the two apart."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {}
    for kernel in ("Prescott", "Haswell"):
        path = tmp_path / kernel
        done = subprocess.run(
            [sys.executable, "-c", _KERNEL_CHILD, str(path)],
            cwd=repo,
            env={**os.environ, "OPENBLAS_CORETYPE": kernel},
            capture_output=True,
            text=True,
            check=True,
        )
        got = done.stdout.strip()
        if got != kernel:
            pytest.skip(f"OPENBLAS_CORETYPE={kernel} ran OpenBLAS kernel {got!r}")
        out[kernel] = path.read_bytes()
    assert out["Prescott"] == out["Haswell"]
