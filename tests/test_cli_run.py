"""End-to-end CLI parity: the reference's run.py surface (SURVEY §3.1)
executed via talkinghead_datapipeline_spark.run on both node vocabularies,
alone and mixed in one graph."""

from __future__ import annotations

import pytest

import json
import os

from talkinghead_datapipeline_spark.plans.reference_compat import FRAME_BYTES
from talkinghead_datapipeline_spark.run import run

_REF_CONFIG = "/root/reference/configs/mead_a2en_vid2vid.json"


def _write_clips(root: str, n_clips: int = 2, n_frames: int = 8) -> None:
    import hashlib

    for i in range(n_clips):
        name = f"actor{i:02d}/clip{i:03d}.mp4"
        path = os.path.join(root, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        seed = hashlib.md5(name.encode()).digest()
        payload = (seed * (n_frames * FRAME_BYTES // len(seed) + 1))[
            : n_frames * FRAME_BYTES
        ]
        with open(path, "wb") as f:
            f.write(payload)


def _graph_path(tmp_path) -> str:
    if os.path.exists(_REF_CONFIG):
        return _REF_CONFIG
    graph = [
        {"name": "VideoToImagesNode", "params": {"ext": ".jpg"}},
        {"name": "VideoToWavNode", "params": {}},
        {"name": "Wav2vecNode", "params": {}},
        {"name": "FaceAlignmentNode", "params": {}},
        {"name": "FixedBboxesNode", "params": {"scale": 1.25}},
        {"name": "CropNode", "params": {"size_hw": [320, 320]}},
        {"name": "EmocaNode", "params": {}},
        {"name": "FlameNode", "params": {}},
        {"name": "RenderingNode", "params": {}},
        {"name": "A2enDatasetNode", "params": {}},
        {"name": "Vid2vidDatasetNode", "params": {}},
    ]
    p = str(tmp_path / "graph.json")
    with open(p, "w") as f:
        json.dump(graph, f)
    return p


@pytest.mark.slow  # heavy tier (see conftest; VERDICT r14 #3)
def test_cli_reference_config_end_to_end(spark, tmp_path):
    media = str(tmp_path / "media")
    out = str(tmp_path / "out")
    _write_clips(media)
    report = run(
        spark,
        _graph_path(tmp_path),
        {"video": media},
        out,
        verbose=False,
    )
    by_name = {r["name"]: r for r in report}
    assert by_name["a2en"]["status"] == "written"
    assert by_name["a2en"]["total"] > 0
    assert by_name["video"]["status"] == "input"
    assert os.path.exists(os.path.join(out, "a2en.parquet"))
    assert os.path.exists(os.path.join(out, "report.json"))
    a2en = spark.read.parquet(os.path.join(out, "a2en.parquet"))
    assert "clip_name" in a2en.columns


def test_cli_test_run_smoke(spark, tmp_path):
    media = str(tmp_path / "media")
    _write_clips(media, n_clips=1, n_frames=4)
    report = run(
        spark,
        _graph_path(tmp_path),
        {"video": media},
        str(tmp_path / "out"),
        test_run=True,
    )
    assert all(r["status"] == "test_run" for r in report)
    # E12: one row forced through every bound table without full writes.
    assert not os.path.exists(str(tmp_path / "out" / "a2en.parquet"))


def test_cli_builtin_dialect(spark, tmp_path, sf_dir):
    graph = [
        {
            "name": "source_parquet",
            "params": {"sf_dir": sf_dir, "table": "orders", "output": "orders"},
        },
        {
            "name": "filter",
            "params": {
                "input": "orders",
                "predicate": "o_totalprice > 100000",
                "output": "big",
            },
        },
        {
            "name": "aggregate",
            "params": {
                "input": "big",
                "keys": ["o_orderstatus"],
                "aggs": ["count(*) AS n"],
                "output": "by_status",
            },
        },
    ]
    gp = str(tmp_path / "graph.json")
    with open(gp, "w") as f:
        json.dump(graph, f)
    out = str(tmp_path / "out")
    report = run(spark, gp, {}, out)
    by_name = {r["name"]: r for r in report}
    assert by_name["by_status"]["total"] >= 1
    assert os.path.exists(os.path.join(out, "by_status.parquet"))


def test_cli_mixed_vocabulary_graph(spark, tmp_path):
    # Reference nodes and a built-in node in one graph, through one builder.
    graph = [
        {"name": "VideoToImagesNode", "params": {"ext": ".jpg"}},
        {"name": "FaceAlignmentNode", "params": {}},
        {"name": "FixedBboxesNode", "params": {"scale": 1.25}},
        {
            "name": "aggregate",
            "params": {
                "input": "bboxes",
                "keys": ["clip_name"],
                "aggs": ["count(*) AS n_frames", "count(DISTINCT x1, y1, x2, y2) AS n_boxes"],
                "output": "boxes_per_clip",
            },
        },
    ]
    gp = str(tmp_path / "graph.json")
    with open(gp, "w") as f:
        json.dump(graph, f)
    media = str(tmp_path / "media")
    _write_clips(media, n_clips=1, n_frames=2)
    out = str(tmp_path / "out")
    report = run(spark, gp, {"video": media}, out)
    assert {r["name"]: (r["status"], r["total"]) for r in report} == {
        "video": ("input", -1),
        "images": ("written", 2),
        "landmarks": ("written", 2),
        "bboxes": ("written", 2),
        "boxes_per_clip": ("written", 1),
    }
    row = spark.read.parquet(os.path.join(out, "boxes_per_clip.parquet")).first()
    assert (row.clip_name, row.n_frames, row.n_boxes) == ("actor00_clip000", 2, 1)
