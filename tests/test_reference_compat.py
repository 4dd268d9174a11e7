"""E2E: run the reference's own graph config (mead_a2en_vid2vid.json, as
committed under perfbench/graphs) through the compat layer on synthetic
clips — validating that a reference user's pipeline declaration executes
on this engine end to end."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.plans.reference_compat import (
    FRAME_BYTES,
    load_reference_graph,
    run_reference_graph,
    synthetic_clips,
)


@pytest.fixture(scope="module")
def graph(mead_graphs) -> str:
    return os.path.join(mead_graphs, "mead_a2en_vid2vid.json")


def test_reference_config_parses(graph):
    specs = load_reference_graph(graph)
    assert [s["name"] for s in specs][:2] == ["VideoToImagesNode", "VideoToWavNode"]


def test_unknown_node_rejected():
    with pytest.raises(ValueError, match=r"unknown nodes: \['NoSuchNode'\]; known: \[.*'VideoToImagesNode'.*'source_parquet'"):
        load_reference_graph([{"name": "NoSuchNode", "params": {}}])


def test_mead_graph_end_to_end(spark, graph):
    n_clips, n_frames = 3, 6
    video = synthetic_clips(spark, n_clips=n_clips, n_frames=n_frames)
    ctx = run_reference_graph(spark, graph, {"video": video})

    # Every DataType table the graph promises exists and is populated.
    images = ctx.get("images")
    assert images.count() == n_clips * n_frames
    assert ctx.get("wav").select(F.size("wav").alias("n")).first().n == (
        n_frames * FRAME_BYTES
    )
    lmk = ctx.get("landmarks")
    assert lmk.count() == n_clips * n_frames
    assert len(lmk.first().landmarks) == 68

    # N11: one square box per clip, identical on every frame of the clip.
    boxes = ctx.get("bboxes")
    per_clip = boxes.groupBy("clip_name").agg(
        F.countDistinct("x1", "y1", "x2", "y2").alias("n_distinct")
    )
    assert all(r.n_distinct == 1 for r in per_clip.collect())
    b = boxes.first()
    assert abs((b.x2 - b.x1) - (b.y2 - b.y1)) < 1e-9  # square

    # Inference chain: codes split widths, mesh shape, render sink contract.
    codes = ctx.get("emoca_codes").first()
    assert (len(codes.shape), len(codes.exp), len(codes.pose)) == (100, 50, 6)
    fl = ctx.get("flame_out").first()
    assert len(fl.verts) == 64 and len(fl.landmarks3d) == 12
    rend = ctx.get("renders").first()
    assert len(bytes(rend.render_uv)) == 320 * 320

    # N18: audio features resampled to the video frame count per clip.
    a2en = ctx.get("a2en")
    rows = a2en.collect()
    assert len(rows) == n_clips
    for r in rows:
        assert r.n_frames == n_frames
        assert len(r.wav2vec_resampled) == n_frames
        assert len(r.volume_resampled) == n_frames
        assert len(r.jaw) == n_frames

    # N20: packed vid2vid rows — one per frame, all three modalities.
    vid2vid = ctx.get("vid2vid")
    assert vid2vid.count() == n_clips * n_frames
    assert {"crop", "render_uv", "render_normal"} <= set(vid2vid.columns)


def test_mead_graph_deterministic(spark, graph):
    video = synthetic_clips(spark, n_clips=2, n_frames=4)
    a = run_reference_graph(spark, graph, {"video": video}).get("a2en")
    b = run_reference_graph(spark, graph, {"video": video}).get("a2en")
    ra = sorted(a.collect(), key=lambda r: r.clip_name)
    rb = sorted(b.collect(), key=lambda r: r.clip_name)
    assert ra == rb
