"""End-to-end CLI parity: the reference's run.py surface (SURVEY §3.1)
executed via talkinghead_datapipeline_spark.run on both node vocabularies,
alone and mixed in one graph."""

from __future__ import annotations

import pytest

import json
import os

from talkinghead_datapipeline_spark.plans.reference_compat import FRAME_BYTES
from talkinghead_datapipeline_spark.run import run


def _write_clips(root: str, n_clips: int, n_frames: int) -> None:
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


def test_cli_test_run_smoke(spark, tmp_path, mead_graphs):
    media = str(tmp_path / "media")
    _write_clips(media, n_clips=1, n_frames=4)
    report = run(
        spark,
        os.path.join(mead_graphs, "mead_a2en_vid2vid.json"),
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


def _digest(df) -> list[int]:
    """Order-insensitive content digest: the sorted per-row xxhash64."""
    from pyspark.sql import functions as F

    return sorted(r.h for r in df.select(F.xxhash64(*sorted(df.columns)).alias("h")).collect())


# model key of each model node → the table its ok rows are written to
_MODEL_TABLES = {
    "fake_audio_codec": "wav",
    "wav2vec": "wav2vec_volume",
    "face_alignment": "landmarks",
    "crop_resize": "crops",
    "emoca": "emoca_codes",
    "flame": "flame_out",
    "renderer": "renders",
    "a2en_pack": "a2en",
}


def test_run_feeds_each_model_node_once(spark, tmp_path, monkeypatch, mead_graphs):
    # Each node's tables are written before the next node is built, so a
    # model node's batch_fn sees every row exactly once per run, and the
    # written tables equal those of one lazy whole-graph build.
    from talkinghead_datapipeline_spark.operators import inference
    from talkinghead_datapipeline_spark.plans.reference_compat import run_reference_graph
    from talkinghead_datapipeline_spark.run import bind_input

    gp = os.path.join(mead_graphs, "mead_a2en_vid2vid_s32.json")
    media = str(tmp_path / "media")
    _write_clips(media, n_clips=2, n_frames=3)

    real = inference.batched_inference
    fed = {}

    def counting(df, output_schema, model_key, model_factory, batch_fn):
        rows = fed.setdefault(model_key, spark.sparkContext.accumulator(0))

        def counted(model, pdf):
            rows.add(len(pdf))
            return batch_fn(model, pdf)

        return real(df, output_schema, model_key, model_factory, counted)

    monkeypatch.setattr(inference, "batched_inference", counting)
    out = str(tmp_path / "out")
    report = run(spark, gp, {"video": media}, out)
    monkeypatch.setattr(inference, "batched_inference", real)

    totals = {r["name"]: r["total"] for r in report}
    assert {k: acc.value for k, acc in fed.items()} == {
        k: totals[t] for k, t in _MODEL_TABLES.items()
    }
    assert totals["landmarks"] == 6 and totals["a2en"] == 2
    written = [r for r in report if r["status"] == "written"]
    assert {(r["quarantined"], r["sample_error"]) for r in written} == {(0, None)}

    lazy = run_reference_graph(spark, gp, {"video": bind_input(spark, "video", media)})
    assert len(written) == 11
    for key in (r["name"] for r in written):
        written = spark.read.parquet(os.path.join(out, f"{key}.parquet"))
        assert written.count() == totals[key], key
        assert _digest(written) == _digest(lazy.get(key)), key


def test_run_rebinds_a_key_it_reads(spark, tmp_path, sf_dir):
    # filter and sink_parquet both re-bind "orders", the key they read: the
    # report keeps one entry for it, and orders.parquet is the filtered table.
    from talkinghead_datapipeline_spark.catalog import load_table

    predicate = "o_totalprice > 100000"
    graph = [
        {"name": "source_parquet", "params": {"sf_dir": sf_dir, "table": "orders", "output": "orders"}},
        {"name": "filter", "params": {"input": "orders", "predicate": predicate, "output": "orders"}},
        {"name": "sink_parquet", "params": {"input": "orders", "path": str(tmp_path / "sink")}},
    ]
    gp = str(tmp_path / "graph.json")
    with open(gp, "w") as f:
        json.dump(graph, f)
    out = str(tmp_path / "out")
    report = run(spark, gp, {}, out)
    expected = load_table(spark, sf_dir, "orders").filter(predicate)
    n = expected.count()
    assert 0 < n < load_table(spark, sf_dir, "orders").count()
    assert [(r["name"], r["status"], r["total"]) for r in report] == [("orders", "written", n)]
    assert _digest(spark.read.parquet(os.path.join(out, "orders.parquet"))) == _digest(expected)
    assert sorted(os.listdir(out)) == ["orders.parquet", "report.json"]


def test_failed_node_write_leaves_no_temp_directory(spark, tmp_path, sf_dir):
    # the second node's write fails: its staged temp directory goes, and the
    # first node's committed table stays as written
    from talkinghead_datapipeline_spark.catalog import load_table

    graph = [
        {"name": "source_parquet", "params": {"sf_dir": sf_dir, "table": "nation", "output": "ok_tbl"}},
        {"name": "select", "params": {"input": "ok_tbl", "exprs": ["raise_error('boom') AS x"], "output": "bad_tbl"}},
    ]
    gp = str(tmp_path / "graph.json")
    with open(gp, "w") as f:
        json.dump(graph, f)
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="boom"):
        run(spark, gp, {}, out)
    assert os.listdir(out) == ["ok_tbl.parquet"]
    nation = load_table(spark, sf_dir, "nation")
    assert _digest(spark.read.parquet(os.path.join(out, "ok_tbl.parquet"))) == _digest(nation)


# Digest (``perfbench/workloads._digest``) of each table a ``mead_ref``
# pass writes: the 11-node MEAD graph over one seed-0 clip of two frames.
_MEAD_REF_DIGESTS = {
    "images": "6675005ce2d829c86dae2f43ebdad333",
    "wav": "00c3a2ed9c9b781a0c72133c6310482a",
    "wav2vec_volume": "67cd6456b6525022c95116bb3973e0cb",
    "landmarks": "50e15a14634f8468557a8996201fb804",
    "bboxes": "5735352f04ef5df35659c937119b0340",
    "crops": "333e686b9ffb3cb48cf98743b64c9961",
    "emoca_codes": "1660e96a9399cf6f6eb0b68ef134f213",
    "flame_out": "e693f8ae301c734135d244293ed4be45",
    "renders": "09e809834c25f40c15c58e5f47092c1d",
    "a2en": "907a83eb1fada5cac34d4f6d181deeea",
    "vid2vid": "ba19aeb4c0bf96b8828bb1b1e21351a3",
}


def test_mead_ref_table_digests(spark, tmp_path, monkeypatch):
    # the paper's graph output, pinned table by table
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(repo, "perfbench"))
    import workloads

    clips = str(tmp_path / "clips")
    workloads.make_clips(clips, 0, 1, 2)
    out = str(tmp_path / "out")
    run(spark, os.path.join(workloads.GRAPHS, "mead_a2en_vid2vid.json"), {"video": clips}, out)
    got = {t: workloads._digest(spark, os.path.join(out, f"{t}.parquet")) for t in workloads.TABLES}
    assert got == _MEAD_REF_DIGESTS
