"""Reference graph-config compatibility: run the reference's own JSON graphs
(e.g. /root/reference/configs/mead_a2en_vid2vid.json) on this engine.

The reference declares a linear pipeline as ``[{name, params}, ...]`` with
node CLASS names (dpl/processor/engine.py:81-92). This module registers
each reference node in plans.graph's one ``NODE_REGISTRY``, mapped onto the
Spark-native implementation, and holds the one validator and builder for
graphs of either vocabulary:

- pure-math nodes (FixedBboxesNode, A2en feature assembly) run the REAL
  column-expression/window implementations;
- model nodes (Wav2vecNode, FaceAlignmentNode, EmocaNode, FlameNode,
  RenderingNode) run the real ``mapInPandas`` inference harness with the
  deterministic stand-in models (operators.models) — the real checkpoint
  drops in by swapping the factory;
- codec nodes (VideoToImagesNode, VideoToWavNode) run the real frame-grain
  explode / waveform-decode PLUMBING over a deterministic byte-level
  "codec" (no ffmpeg in this runtime; the ffmpeg shell-out slots into the
  same UDF);
- runtime-only params (num_jobs, device, batch_size, num_workers,
  weights paths) are accepted and recorded but do not change semantics —
  Spark owns parallelism and placement.

Dataflow keys follow the reference's DataType vocabulary: video → images,
wav, wav2vec, volume, landmarks, bboxes, crops, exp/pose/shape/cam,
verts/landmarks3d, render_*, a2en, vid2vid.
"""

from __future__ import annotations

import json
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.functions.geometry import eye_aspect_ratio
from talkinghead_datapipeline_spark.plans.graph import NODE_REGISTRY, GraphContext, node

FRAME_BYTES = 256  # deterministic fake codec: one "frame" per 256 video bytes


def load_reference_graph(graph: str | list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Parse a graph (path or parsed list) and validate its node names
    against the one registry (the registry-resolution step of
    engine.py:85-87)."""
    if isinstance(graph, str):
        with open(graph) as f:
            graph = json.load(f)
    unknown = [s["name"] for s in graph if s["name"] not in NODE_REGISTRY]
    if unknown:
        raise ValueError(f"unknown nodes: {unknown}; known: {sorted(NODE_REGISTRY)}")
    return graph


def run_reference_graph(
    spark: SparkSession,
    graph: str | list[dict[str, Any]],
    inputs: dict[str, DataFrame] | None = None,
) -> GraphContext:
    """Build a graph of either node vocabulary, or both, over the bound
    input tables (E5 binding + §3.1 steps 2-4 — except the 'execution' is
    one lazy Catalyst plan)."""
    ctx = GraphContext(spark, dict(inputs or {}))
    for spec in load_reference_graph(graph):
        NODE_REGISTRY[spec["name"]](ctx, spec.get("params", {}))
    return ctx


def _bind(ctx: GraphContext, key: str, out: DataFrame) -> None:
    """Split a node's output on its error column and bind the ok rows; the
    quarantined rows are dropped here. Their count and one sample error are
    observed on the unsplit output, so the job that writes the ok rows
    fills ``ctx.observations[key]`` without a job of its own."""
    from pyspark.sql import Observation

    from talkinghead_datapipeline_spark.operators.inference import (
        split_error_channel,
    )

    # Named per key: a whole-graph build stacks several keys' observations
    # in one plan (renders reads flame_out and emoca_codes), and Spark
    # rejects one name on two observed DataFrames.
    obs = Observation(f"quarantine_{key}")
    out = out.observe(
        obs,
        F.count("error").alias("quarantined"),
        F.first("error", ignorenulls=True).alias("sample_error"),
    )
    ok, _err = split_error_channel(out)
    ctx.put(key, ok)
    ctx.observations[key] = obs


def _infer(ctx, df, schema, model_key, factory, batch_fn, output_key):
    from talkinghead_datapipeline_spark.operators.inference import batched_inference

    out = batched_inference(
        df,
        output_schema=schema,
        model_key=model_key,
        model_factory=factory,
        batch_fn=batch_fn,
    )
    _bind(ctx, output_key, out)


@node("VideoToImagesNode")
def _video_to_images(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N2 demux: video binary → (clip_name, frame_idx, image) frame rows.
    With an ffmpeg binary (params ``ffmpeg_exe`` or PATH) this runs the
    REAL subprocess demux (sources.media.video_to_frames — the reference's
    FFMPEG_TO_IMG_CMD, ffmpeg.py:18-21); otherwise the deterministic
    byte-chunk 'codec' keeps the frame-grain contract exercisable."""
    import shutil as _sh

    video = ctx.get("video")
    exe = p.get("ffmpeg_exe") or _sh.which("ffmpeg")
    if exe is not None:
        from talkinghead_datapipeline_spark.sources.media import video_to_frames

        frames = video_to_frames(
            video.select("clip_name", F.col("video").alias("content")),
            ext=p.get("ext", ".jpg"),
            ffmpeg_exe=exe,
        )
        _bind(ctx, "images", frames)
        return
    n_frames = F.floor(F.length("video") / FRAME_BYTES).cast("int")
    frames = video.select(
        "clip_name",
        F.posexplode(
            F.transform(
                # sequence(0, n) then its first n elements: sequence(0, -1)
                # would count down and give a short clip two frames.
                F.slice(F.sequence(F.lit(0), n_frames), 1, n_frames),
                lambda i: F.substring(F.col("video"), i * FRAME_BYTES + 1, FRAME_BYTES),
            )
        ).alias("frame_idx", "image"),
    )
    ctx.put("images", frames)


@node("VideoToWavNode")
def _video_to_wav(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N4 audio extract: video binary → waveform array (decode UDF shape;
    dpl/wav2vec/dataset.py:21-28's load-resample runs here in prod)."""

    def decode(_model, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        wavs = [
            (np.frombuffer(bytes(v), dtype=np.uint8).astype("float64") - 127.5)
            / 127.5
            for v in pdf["video"]
        ]
        return pd.DataFrame(
            {
                "clip_name": pdf["clip_name"],
                "wav": [w.tolist() for w in wavs],
            }
        )

    _infer(
        ctx,
        ctx.get("video"),
        "clip_name string, wav array<double>",
        "fake_audio_codec",
        lambda: None,
        decode,
        "wav",
    )


@node("Wav2vecNode")
def _wav2vec(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N6: waveform → wav2vec features @50 fps + volume envelope
    (length contract int(len/sr*fps - 0.25), wav2vec/inference.py:52)."""

    def infer(model, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        rows = []
        for name, wav in zip(pdf["clip_name"], pdf["wav"]):
            w = np.asarray(wav, dtype=np.float64)
            rows.append(
                {
                    "clip_name": name,
                    "wav2vec": model.features(w).tolist(),
                    "volume": model.volume(w).tolist(),
                }
            )
        return pd.DataFrame(rows)

    def factory():
        from talkinghead_datapipeline_spark.operators.models import Wav2vecStub

        return Wav2vecStub()

    _infer(
        ctx,
        ctx.get("wav"),
        "clip_name string, wav2vec array<array<double>>, volume array<double>",
        "wav2vec",
        factory,
        infer,
        "wav2vec_volume",
    )


@node("FaceAlignmentNode")
def _face_alignment(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N8: frame image → 68×2 landmarks (+ box score filter param accepted).
    Stub landmarks are a deterministic function of the frame bytes."""

    def infer(_model, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        import numpy as np

        rows = []
        for name, idx, img in zip(
            pdf["clip_name"], pdf["frame_idx"], pdf["image"]
        ):
            seed = int.from_bytes(hashlib.md5(bytes(img)).digest()[:8], "little")
            rng = np.random.default_rng(seed)
            lmk = rng.uniform(10, 300, size=(68, 2))
            rows.append(
                {
                    "clip_name": name,
                    "frame_idx": idx,
                    "landmarks": lmk.tolist(),
                }
            )
        return pd.DataFrame(rows)

    _infer(
        ctx,
        ctx.get("images"),
        "clip_name string, frame_idx int, landmarks array<array<double>>",
        "face_alignment",
        lambda: None,
        infer,
        "landmarks",
    )


@node("FixedBboxesNode")
def _fixed_bboxes(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N11, REAL implementation (bboxes.py:45-81): whole-clip landmark
    extent → one square box (side = 1.1·scale·(w+h)/2, centered on the
    extent midpoint) broadcast to every frame. groupBy + rejoin — the
    window-unbounded-frame pattern from SURVEY §2.b."""
    scale = float(p.get("scale", 1.0))
    lmk = ctx.get("landmarks")
    xs = F.transform("landmarks", lambda pt: F.element_at(pt, 1))
    ys = F.transform("landmarks", lambda pt: F.element_at(pt, 2))
    per_frame = lmk.select(
        "clip_name",
        "frame_idx",
        F.array_min(xs).alias("_xmin"),
        F.array_max(xs).alias("_xmax"),
        F.array_min(ys).alias("_ymin"),
        F.array_max(ys).alias("_ymax"),
    )
    extent = per_frame.groupBy("clip_name").agg(
        F.min("_xmin").alias("xmin"),
        F.max("_xmax").alias("xmax"),
        F.min("_ymin").alias("ymin"),
        F.max("_ymax").alias("ymax"),
    )
    # bboxes.py:74-78: radius/xc/yc pass through int() — truncation toward
    # zero, which Spark's double→bigint CAST matches exactly — so the output
    # boxes are integer-cornered like the reference's np.int64 boxes.
    size = ((F.col("xmax") - F.col("xmin")) + (F.col("ymax") - F.col("ymin"))) / 2 * 1.1
    radius = (scale * size / 2.0).cast("bigint")
    cx = ((F.col("xmin") + F.col("xmax")) / 2.0).cast("bigint")
    cy = ((F.col("ymin") + F.col("ymax")) / 2.0).cast("bigint")
    box = extent.select(
        "clip_name",
        (cx - radius).alias("x1"),
        (cy - radius).alias("y1"),
        (cx + radius).alias("x2"),
        (cy + radius).alias("y2"),
    )
    ctx.put(
        "bboxes",
        ctx.get("landmarks").select("clip_name", "frame_idx").join(box, "clip_name"),
    )


@node("CropNode")
def _crop(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N13: equi-join images ⋈ bboxes on (clip, frame) — replacing the
    reference's positional zip (crop.py:72) — then decode-crop-resize UDF."""
    size_hw = tuple(p.get("size_hw", (16, 16)))
    joined = ctx.get("images").join(ctx.get("bboxes"), ["clip_name", "frame_idx"])

    def crop_fn(_model, pdf: pd.DataFrame) -> pd.DataFrame:
        from talkinghead_datapipeline_spark.operators.models import fake_decode_image

        rows = []
        for name, idx, img in zip(pdf["clip_name"], pdf["frame_idx"], pdf["image"]):
            arr = fake_decode_image(bytes(img), size_hw=(32, 32))
            crop = arr[: size_hw[0] % 32 or 32, : size_hw[1] % 32 or 32]
            rows.append(
                {
                    "clip_name": name,
                    "frame_idx": idx,
                    "crop": crop.tobytes(),
                }
            )
        return pd.DataFrame(rows)

    _infer(
        ctx,
        joined,
        "clip_name string, frame_idx int, crop binary",
        "crop_resize",
        lambda: None,
        crop_fn,
        "crops",
    )


@node("EmocaNode")
def _emoca(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N14: crop → 236-dim code split shape/tex/exp/pose/cam/light
    (dpl/emoca/inference.py:95-105 splits; stub preserves the split)."""

    def infer(model, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for name, idx, crop in zip(pdf["clip_name"], pdf["frame_idx"], pdf["crop"]):
            code = model.encode(bytes(crop))
            rows.append(
                {
                    "clip_name": name,
                    "frame_idx": idx,
                    **{k: v.tolist() for k, v in code.items()},
                }
            )
        return pd.DataFrame(rows)

    def factory():
        from talkinghead_datapipeline_spark.operators.models import EmocaEncoderStub

        return EmocaEncoderStub()

    arr_cols = ", ".join(
        f"{k} array<double>"
        for k in ("shape", "tex", "exp", "pose", "cam", "light")
    )
    _infer(
        ctx,
        ctx.get("crops"),
        f"clip_name string, frame_idx int, {arr_cols}",
        "emoca",
        factory,
        infer,
        "emoca_codes",
    )


@node("FlameNode")
def _flame(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N16: (shape, exp, pose) → verts + landmarks3d via the REAL LBS
    pipeline (FlameLbsDecoder — blend shapes, Rodrigues, kinematic chain,
    skinning, barycentric landmarks; dpl/flame/flame.py:241-312).
    n_shape/n_exp params select the code slice widths; pose is the 6-dim
    global+jaw axis-angle the reference feeds FLAME (flame.py:262-271).
    Like the reference's 64-frame FLAME calls, each pandas batch is one
    ``decode_batch`` call; its batch invariance keeps every row bit-equal
    to a one-row decode."""
    n_shape = int(p.get("n_shape", 8))
    n_exp = int(p.get("n_exp", 8))

    def infer(model, pdf: pd.DataFrame) -> pd.DataFrame:
        from talkinghead_datapipeline_spark.operators.inference import stack_column

        verts, lmk = model.decode_batch(
            stack_column(pdf["shape"])[:, :n_shape],
            stack_column(pdf["exp"])[:, :n_exp],
            stack_column(pdf["pose"])[:, :6],
        )
        return pd.DataFrame(
            {
                "clip_name": pdf["clip_name"].to_numpy(),
                "frame_idx": pdf["frame_idx"].to_numpy(),
                "verts": verts.tolist(),
                "landmarks3d": lmk.tolist(),
            }
        )

    def factory():
        from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder

        return FlameLbsDecoder()

    _infer(
        ctx,
        ctx.get("emoca_codes"),
        "clip_name string, frame_idx int, verts array<array<double>>, "
        "landmarks3d array<array<double>>",
        "flame",
        factory,
        infer,
        "flame_out",
    )


@node("RenderingNode")
def _rendering(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N17: verts + cam → render_normal/render_uv/render_mask binaries
    (three sinks of rendering.py:53-143) — each channel a REAL rasterizer
    output (operators.rasterize): interpolated normal-z, barycentric
    uv-interpolant, and z-buffered coverage mask. Like ``SRenderY.forward``
    it rasterizes once for all three: each pandas batch is stacked and goes
    through one ``ShapeRenderer.render_batch`` call."""
    joined = ctx.get("flame_out").join(
        ctx.get("emoca_codes").select("clip_name", "frame_idx", "cam"),
        ["clip_name", "frame_idx"],
    )

    size = int(p.get("image_size", 16))

    def infer(renderers, pdf: pd.DataFrame) -> pd.DataFrame:
        from talkinghead_datapipeline_spark.operators.inference import stack_column
        from talkinghead_datapipeline_spark.operators.models import (
            FlameLbsDecoder,
            ShapeRenderer,
            view_transform,
        )

        # The cached "renderer" resource outlives this graph in a reused
        # worker, so it keeps one renderer per image size.
        model = renderers.get(size)
        if model is None:
            model = renderers[size] = ShapeRenderer(
                size_hw=(size, size), faces=FlameLbsDecoder().faces
            )
        verts = stack_column(pdf["verts"])
        cams = stack_column(pdf["cam"])
        out = model.render_batch(verts, view_transform(verts, cams), ("normal", "bary", "mask"))
        return pd.DataFrame(
            {
                "clip_name": pdf["clip_name"].to_numpy(),
                "frame_idx": pdf["frame_idx"].to_numpy(),
                "render_normal": out["normal"],
                "render_uv": out["bary"],
                "render_mask": out["mask"],
            }
        )

    _infer(
        ctx,
        joined,
        "clip_name string, frame_idx int, render_normal binary, "
        "render_uv binary, render_mask binary",
        "renderer",
        dict,
        infer,
        "renders",
    )


@node("A2enDatasetNode")
def _a2en(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N18, REAL assembly (a2en.py:13-45): join the per-clip audio features
    with the frame-grain emoca/flame outputs, resample 50 fps features to
    the video frame count (S7 linear interp, wav2vec/utils.py:5-21), derive
    jaw = pose[3] and blink ratios (S5) — grouped per clip."""
    frames = (
        ctx.get("emoca_codes")
        .select(
            "clip_name",
            "frame_idx",
            F.element_at("pose", 4).alias("jaw"),
            F.col("exp"),
        )
        .join(
            ctx.get("flame_out").select("clip_name", "frame_idx", "landmarks3d"),
            ["clip_name", "frame_idx"],
        )
    )
    # S5 eye-aspect-ratio blinks (utils.py:57-65) on the 3D landmarks. The
    # reference indexes the 68-point layout (37-48 for the eyes); the FLAME
    # stand-in emits 12 landmarks, so the same 6-point EAR formula is
    # applied to the stub's 1..6 / 7..12 point groups — identical math,
    # remapped indices (the real decoder restores the 68-point indices).
    def pt(k):
        xy = F.element_at(F.col("landmarks3d"), k)
        return F.element_at(xy, 1), F.element_at(xy, 2)

    per_frame = frames.select(
        "clip_name",
        "frame_idx",
        "jaw",
        "exp",
        eye_aspect_ratio(pt(1), pt(4), pt(2), pt(6), pt(3), pt(5)).alias("left_blink"),
        eye_aspect_ratio(pt(7), pt(10), pt(8), pt(12), pt(9), pt(11)).alias("right_blink"),
    )
    audio = ctx.get("wav2vec_volume")
    joined = per_frame.groupBy("clip_name").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.collect_list(
            F.struct("frame_idx", "jaw", "exp", "left_blink", "right_blink")
        ).alias("_frames"),
    ).join(audio, "clip_name")

    def pack(_model, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        rows = []
        for name, n, fr, w2v, vol in zip(
            pdf["clip_name"], pdf["n_frames"], pdf["_frames"],
            pdf["wav2vec"], pdf["volume"],
        ):
            n = int(n)
            w = np.asarray([list(r) for r in w2v], dtype=np.float64)
            v = np.asarray(vol, dtype=np.float64)
            if len(v) == 0 or len(w) == 0:
                raise ValueError(f"empty audio for clip {name} (a2en.py:38-39)")
            frames = sorted(fr, key=lambda r: r["frame_idx"])
            # the reference npz carries ALL of: wav2vec, volume, exp, jaw,
            # left/right/average blink (a2en.py:29-45 + get_blinks_data).
            lb = [float(r["left_blink"]) for r in frames]
            rb = [float(r["right_blink"]) for r in frames]
            rows.append(
                {
                    "clip_name": name,
                    "n_frames": n,
                    "wav2vec_resampled": _resample_np(w, n).tolist(),
                    "volume_resampled": _resample_np(v[:, None], n)[:, 0].tolist(),
                    "exp": [[float(x) for x in r["exp"]] for r in frames],
                    "jaw": [float(r["jaw"]) for r in frames],
                    "left_blink": lb,
                    "right_blink": rb,
                    "average_blink": [(a + b) / 2 for a, b in zip(lb, rb)],
                }
            )
        return pd.DataFrame(rows)

    _infer(
        ctx,
        joined,
        "clip_name string, n_frames bigint, "
        "wav2vec_resampled array<array<double>>, "
        "volume_resampled array<double>, exp array<array<double>>, "
        "jaw array<double>, left_blink array<double>, "
        "right_blink array<double>, average_blink array<double>",
        "a2en_pack",
        lambda: None,
        pack,
        "a2en",
    )


@node("Vid2vidDatasetNode")
def _vid2vid(ctx: GraphContext, p: dict[str, Any]) -> None:
    """N20: crops ⋈ render_uv ⋈ render_normal per frame — the packed
    training-row table (parquet-native instead of one h5 per clip)."""
    ctx.put(
        "vid2vid",
        ctx.get("crops").join(
            ctx.get("renders").select(
                "clip_name", "frame_idx", "render_uv", "render_normal"
            ),
            ["clip_name", "frame_idx"],
        ),
    )


def _resample_np(y, num: int):
    """S7 linear resample (wav2vec/utils.py:5-21): 50 fps grid → num frames,
    extrapolating linearly at the edges. Pure numpy, exact formula."""
    import numpy as np

    from talkinghead_datapipeline_spark.operators.models import Wav2vecStub

    L = y.shape[0]
    if L == num:
        return y
    src_fps = float(Wav2vecStub.FPS)
    duration = L / src_fps
    x = np.linspace(1 / (2 * src_fps), duration, L)
    tgt_fps = num / duration
    x_hat = np.linspace(1 / (2 * tgt_fps), duration, num)
    out = np.empty((num, y.shape[1]), dtype=y.dtype)
    for c in range(y.shape[1]):
        if L == 1:
            out[:, c] = y[0, c]
        else:
            slope0 = (y[1, c] - y[0, c]) / (x[1] - x[0])
            slopeN = (y[-1, c] - y[-2, c]) / (x[-1] - x[-2])
            out[:, c] = np.interp(x_hat, x, y[:, c])
            lo = x_hat < x[0]
            hi = x_hat > x[-1]
            out[lo, c] = y[0, c] + (x_hat[lo] - x[0]) * slope0
            out[hi, c] = y[-1, c] + (x_hat[hi] - x[-1]) * slopeN
    return out


def synthetic_clips(spark: SparkSession, n_clips: int = 3, n_frames: int = 8) -> DataFrame:
    """Deterministic fake 'video' table for compat-pipeline tests: clip_name
    + binary payload sized for ``n_frames`` fake frames."""
    import hashlib

    rows = []
    for i in range(n_clips):
        name = f"actor{i:02d}_clip{i:03d}"
        seed = hashlib.md5(name.encode()).digest()
        payload = (seed * (n_frames * FRAME_BYTES // len(seed) + 1))[
            : n_frames * FRAME_BYTES
        ]
        rows.append((name, bytearray(payload)))
    return spark.createDataFrame(rows, "clip_name string, video binary")
