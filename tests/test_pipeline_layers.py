"""Tests for the graph-config plan builder, inference scaffolding, streaming
incremental layer, and media sources (SURVEY §5 items 3-4)."""

from __future__ import annotations

import ast
import io
import json
import os
import tokenize
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import talkinghead_datapipeline_spark
from talkinghead_datapipeline_spark.catalog import normalize_events_ts, scan_schema
from talkinghead_datapipeline_spark.operators.inference import (
    batched_inference,
    split_error_channel,
)
from talkinghead_datapipeline_spark.operators.models import (
    EmocaEncoderStub,
    FlameLbsDecoder,
    ShapeRenderer,
    Wav2vecStub,
    fake_decode_image,
    view_transform,
)
from talkinghead_datapipeline_spark.plans.graph import NODE_REGISTRY
from talkinghead_datapipeline_spark.plans.reference_compat import (
    load_reference_graph,
    run_reference_graph,
)
from talkinghead_datapipeline_spark.run import run
from talkinghead_datapipeline_spark.sources.media import scan_binary_dir
from talkinghead_datapipeline_spark.streaming.incremental import (
    incremental_append,
    pending_keys,
    run_available_now,
    tumbling_stream_agg,
)

# ---------------------------------------------------------------------------
# plans.graph
# ---------------------------------------------------------------------------


def test_pipeline_end_to_end(spark, sf_dir, tmp_path):
    graph = [
        {"name": "source_parquet", "params": {"sf_dir": sf_dir, "table": "lineitem", "output": "lineitem"}},
        {"name": "source_parquet", "params": {"sf_dir": sf_dir, "table": "orders", "output": "orders"}},
        {"name": "filter", "params": {"input": "lineitem", "predicate": "l_quantity > 10", "output": "big_items"}},
        {
            "name": "join",
            "params": {"left": "big_items", "right": "orders", "on": "l_orderkey = o_orderkey", "how": "inner", "broadcast_right": False, "output": "joined"},
        },
        {
            "name": "aggregate",
            "params": {"input": "joined", "keys": ["o_orderstatus"], "aggs": ["round(sum(l_extendedprice), 2) AS revenue", "count(*) AS n"], "output": "summary"},
        },
        {"name": "sink_parquet", "params": {"input": "summary", "path": str(tmp_path / "summary"), "output": "summary_out"}},
    ]
    ctx = run_reference_graph(spark, graph)
    out = ctx.get("summary_out").toPandas()
    assert set(out["o_orderstatus"]) == {"O", "F", "P"}
    assert (out["n"] > 0).all()


def test_pipeline_unknown_node_rejected():
    with pytest.raises(ValueError, match=r"unknown nodes: \['no_such_node'\]; known: \[.*'VideoToImagesNode'.*'source_parquet'"):
        load_reference_graph([{"name": "no_such_node"}])


def test_pipeline_missing_input_rejected(spark):
    graph = [{"name": "filter", "params": {"input": "nope", "predicate": "1=1", "output": "x"}}]
    with pytest.raises(KeyError, match="missing input table 'nope'"):
        run_reference_graph(spark, graph)


def test_pipeline_test_run_smoke(spark, sf_dir, tmp_path):
    graph = [
        {"name": "source_parquet", "params": {"sf_dir": sf_dir, "table": "events", "output": "events"}},
        {
            "name": "window",
            "params": {"input": "events", "exprs": ["avg(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS win_avg"], "output": "smoothed"},
        },
    ]
    graph_path = tmp_path / "graph.json"
    graph_path.write_text(json.dumps(graph))
    out = tmp_path / "out"
    report = run(spark, str(graph_path), {}, str(out), test_run=True)
    assert [(r["name"], r["status"], r["total"]) for r in report] == [
        ("events", "test_run", 1),
        ("smoothed", "test_run", 1),
    ]
    assert not (out / "smoothed.parquet").exists()


def test_registry_has_core_vocabulary():
    assert {"source_parquet", "filter", "select", "join", "aggregate", "window", "resample", "savgol_smooth", "dedup_exact", "sink_parquet"} <= set(NODE_REGISTRY)


def test_fake_codec_short_clips_give_no_frames(spark):
    """A clip shorter than one fake-codec frame, an empty one included,
    demuxes to zero frames; a whole-frame clip keeps its frames."""
    import shutil

    from talkinghead_datapipeline_spark.plans.reference_compat import FRAME_BYTES

    if shutil.which("ffmpeg") is not None:
        pytest.skip("real ffmpeg present; VideoToImagesNode demuxes with it")
    video = spark.createDataFrame(
        [("empty", bytearray()), ("short", bytearray(100)), ("two", bytearray(2 * FRAME_BYTES))],
        "clip_name string, video binary",
    )
    ctx = run_reference_graph(spark, [{"name": "VideoToImagesNode", "params": {}}], {"video": video})
    rows = ctx.get("images").collect()
    assert sorted((r.clip_name, r.frame_idx, len(r.image)) for r in rows) == [
        ("two", 0, FRAME_BYTES),
        ("two", 1, FRAME_BYTES),
    ]


# ---------------------------------------------------------------------------
# operators.inference — lazy resource + error channel
# ---------------------------------------------------------------------------


def test_batched_inference_with_error_channel(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["ok", "ok", "boom", "ok"]})
    )

    def batch_fn(model, pdf):
        if (pdf["text"] == "boom").any():
            raise RuntimeError("poison batch")
        out = pdf.copy()
        out["score"] = pdf["text"].str.len() * model["scale"]
        return out

    out = batched_inference(
        df.repartition(4, "doc_id"),
        output_schema="doc_id long, text string, score double",
        model_key="test_model",
        model_factory=lambda: {"scale": 2.0},
        batch_fn=batch_fn,
    )
    # the harness appends the error column to the model's DDL
    assert out.schema == StructType.fromDDL("doc_id long, text string, score double, error string")
    ok, bad = split_error_channel(out)
    ok_pdf = ok.toPandas().sort_values("doc_id")
    bad_pdf = bad.toPandas()
    assert set(bad_pdf["doc_id"]) == {3}
    assert "poison batch" in bad_pdf["error"].iloc[0]
    assert (ok_pdf["score"] == ok_pdf["text"].str.len() * 2.0).all()


def test_batched_inference_releases_zip_finders(spark):
    # A reused worker starts each task with importlib.invalidate_caches(),
    # which re-reads the archive of every zipimporter in the importer cache.
    # After a task of batched_inference, a reused worker's next task must
    # see at most one finder per archive, not one per imported sub-package.
    def probe(worker_marker, pdf):
        import sys
        import zipimport

        finders = [
            [f.archive, f.prefix]
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
        ]
        return pd.DataFrame(
            {"id": pdf["id"], "worker": worker_marker, "finders": json.dumps(finders)}
        )

    def new_marker():
        import uuid

        return uuid.uuid4().hex

    # Spark hands each task its longest-idle Python worker, so a worker comes
    # round again only after every idle one has taken a task. Earlier tests
    # can leave more idle workers than there are cores (the pool empties
    # only after a minute without Python tasks): try until one repeats.
    df = spark.range(1).coalesce(1)
    seen, reused = set(), []
    for _ in range(32):
        row = batched_inference(
            df,
            output_schema="id long, worker string, finders string",
            model_key="zip_finder_probe",
            model_factory=new_marker,
            batch_fn=probe,
        ).collect()[0]
        assert row.error is None, row.error
        if row.worker in seen:
            reused.append(json.loads(row.finders))
            break
        seen.add(row.worker)
    assert reused, "no task ran in a reused Python worker"
    archives = [archive for archive, _prefix in reused[-1]]
    assert len(archives) == len(set(archives)), reused[-1]


def test_model_stubs_contracts():
    w2v = Wav2vecStub(dim=4)
    wav = np.sin(np.linspace(0, 100, 16000))  # 1 s @ 16 kHz
    feats = w2v.features(wav)
    vol = w2v.volume(wav)
    assert feats.shape == (int(1 * 50 - 0.25), 4)
    assert vol.shape == (50,)
    assert (vol >= 0).all()

    enc = EmocaEncoderStub()
    code = enc.encode(b"fake-crop-bytes")
    assert {k: len(v) for k, v in code.items()} == EmocaEncoderStub.SPLITS
    code2 = enc.encode(b"fake-crop-bytes")
    np.testing.assert_array_equal(code["shape"], code2["shape"])  # deterministic

    flame = FlameLbsDecoder()
    verts, lmk = flame.decode(code["shape"][:8], code["exp"][:8])
    assert verts.shape == (64, 3) and lmk.shape == (12, 3)
    # linearity: decode(0,0) == template
    v0, _ = flame.decode(np.zeros(8), np.zeros(8))
    np.testing.assert_allclose(v0, flame.template)

    cam = np.array([1.0, 0.0, 0.0])
    img = ShapeRenderer((4, 4), faces=flame.faces).render(verts, view_transform(verts, cam))
    assert len(img) == 16

    arr = fake_decode_image(b"imgbytes", (8, 8))
    assert arr.shape == (8, 8, 3) and arr.dtype == np.uint8


def test_inference_pipeline_wav2vec_shape(spark):
    # N6 end-to-end shape: per-clip waveform rows → (clip, frame, feature)
    clips = pd.DataFrame(
        {
            "name": ["a", "b"],
            "wav": [list(np.sin(np.arange(8000) / 10.0)), list(np.cos(np.arange(16000) / 7.0))],
        }
    )
    df = spark.createDataFrame(clips)

    def batch_fn(model, pdf):
        rows = []
        for _, r in pdf.iterrows():
            feats = model.features(np.asarray(r["wav"]))
            for t, f_row in enumerate(feats):
                rows.append({"name": r["name"], "frame_idx": t, "feat": f_row.tolist()})
        return pd.DataFrame(rows, columns=["name", "frame_idx", "feat"])

    out = batched_inference(
        df,
        output_schema="name string, frame_idx long, feat array<double>",
        model_key="wav2vec_stub_dim4",
        model_factory=lambda: Wav2vecStub(dim=4),
        batch_fn=batch_fn,
    ).toPandas()
    counts = out.groupby("name")["frame_idx"].count()
    assert counts["a"] == int(0.5 * 50 - 0.25)
    assert counts["b"] == int(1.0 * 50 - 0.25)


def test_executor_resource_key_names_one_factory(monkeypatch):
    """One model key, two factories: the second request raises instead of
    handing back the model the first factory built."""
    from talkinghead_datapipeline_spark.operators import inference

    monkeypatch.setattr(inference, "_RESOURCE_CACHE", {})

    def wav2vec_dim4():
        return Wav2vecStub(dim=4)

    def wav2vec_dim8():
        return Wav2vecStub(dim=8)

    model = inference.get_executor_resource("wav2vec_probe", wav2vec_dim4)
    assert inference.get_executor_resource("wav2vec_probe", wav2vec_dim4) is model
    with pytest.raises(ValueError, match=r"'wav2vec_probe'.*wav2vec_dim4.*wav2vec_dim8"):
        inference.get_executor_resource("wav2vec_probe", wav2vec_dim8)


# ---------------------------------------------------------------------------
# streaming.incremental
# ---------------------------------------------------------------------------


def test_pending_keys_anti_join(spark):
    cand = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3, 4], "v": list("abcd")}))
    done = spark.createDataFrame(pd.DataFrame({"k": [2, 4]}))
    got = sorted(r["k"] for r in pending_keys(cand, done, "k").collect())
    assert got == [1, 3]


def test_incremental_append_memoizes(spark, tmp_path):
    sink = str(tmp_path / "sink")
    batch1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]}))
    assert incremental_append(batch1, sink, "k") == 2
    # second run: overlap {2}, only 3 is new
    batch2 = spark.createDataFrame(pd.DataFrame({"k": [2, 3], "v": [20.0, 30.0]}))
    assert incremental_append(batch2, sink, "k") == 1
    assert spark.read.parquet(sink).count() == 3
    # recompute override appends everything again (the reference's flag)
    assert incremental_append(batch2, sink, "k", recompute=True) == 2


def test_incremental_append_raises_on_unreadable_sink(spark, tmp_path):
    """An existing-but-unreadable sink must RAISE, never be treated as a
    first run (ADVICE r1): appending blind would duplicate every
    previously-written key; overwriting would drop them."""
    sink = tmp_path / "sink"
    sink.mkdir()
    (sink / "part-00000.parquet").write_bytes(b"this is not parquet")
    batch = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1.0]}))
    with pytest.raises(RuntimeError, match="exists but is unreadable"):
        incremental_append(batch, str(sink), "k")
    # the corrupt sink was not clobbered by the failed run
    assert (sink / "part-00000.parquet").read_bytes() == b"this is not parquet"


def test_streaming_available_now_tumbling(spark, sf_dir, tmp_path):
    import shutil as sh

    src = tmp_path / "stream_src"
    src.mkdir()
    sh.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    # Read the stream with the catalog's scan schema and normalizer — the
    # same seam production queries go through.
    schema = scan_schema(spark, sf_dir, "events")

    def transform(stream):
        return tumbling_stream_agg(normalize_events_ts(stream))

    sink = str(tmp_path / "stream_sink")
    run_available_now(
        spark, str(src), schema, transform, sink, str(tmp_path / "ckpt")
    )
    out = spark.read.parquet(sink)
    assert out.count() > 0
    assert {"window_start", "event_type", "n_events", "sum_value"} == set(out.columns)


# ---------------------------------------------------------------------------
# sources.media
# ---------------------------------------------------------------------------


def test_scan_binary_dir_key_derivation(spark, tmp_path):
    root = tmp_path / "media"
    (root / "speaker1" / "sess1").mkdir(parents=True)
    (root / "speaker2").mkdir()
    (root / "speaker1" / "sess1" / "clip01.mp4").write_bytes(b"\x00fakevideo")
    (root / "speaker2" / "clip02.mp4").write_bytes(b"\x00fakevideo2")
    (root / "speaker2" / "notes.txt").write_bytes(b"skip me")

    df = scan_binary_dir(spark, str(root), glob="*.mp4")
    rows = {r["clip_name"]: r for r in df.collect()}
    # E2 semantics: relative path parts joined by '_', suffix stripped
    assert set(rows) == {"speaker1_sess1_clip01", "speaker2_clip02"}
    assert rows["speaker1_sess1_clip01"]["content"] == b"\x00fakevideo"
    assert rows["speaker2_clip02"]["meta"]["n_bytes"] == len(b"\x00fakevideo2")


def test_graph_components_and_range_join_nodes(spark, sf_dir):
    """Round-2 graph vocabulary: component-based canonicalization and the
    binned range join, declared as a JSON-style graph."""
    graph = [
        {
            "name": "source_parquet",
            "params": {"sf_dir": sf_dir, "table": "documents", "output": "docs"},
        },
        {
            "name": "dedup_components",
            "params": {
                "input": "docs",
                "key": "doc_id",
                "text": "text",
                "threshold": 0.2,
                "output": "docs_canon",
            },
        },
        {
            "name": "source_parquet",
            "params": {"sf_dir": sf_dir, "table": "events", "output": "ev"},
        },
        {
            "name": "select",
            "params": {
                "input": "ev",
                "exprs": ["user_id", "event_id", "ts", "value"],
                "output": "points",
            },
        },
        {
            "name": "select",
            "params": {
                "input": "ev",
                "exprs": [
                    "user_id",
                    "event_id AS alert_id",
                    "ts AS start_ts",
                    "ts + INTERVAL 10 MINUTES AS end_ts",
                ],
                "output": "intervals",
            },
        },
        {
            "name": "range_join",
            "params": {
                "points": "points",
                "intervals": "intervals",
                "point_ts": "ts",
                "start_ts": "start_ts",
                "end_ts": "end_ts",
                "keys": ["user_id"],
                "output": "hits",
            },
        },
    ]
    ctx = run_reference_graph(spark, graph)
    docs_n = ctx.get("docs").count()
    canon_n = ctx.get("docs_canon").count()
    assert 0 < canon_n <= docs_n
    # every event hits at least its own interval
    assert ctx.get("hits").count() >= ctx.get("points").count()


def test_graph_dedup_and_salted_join_nodes(spark, sf_dir):
    """North-star graph vocabulary: minhash pair node → canonical dedup →
    salted join, declared as a JSON-style graph."""
    graph = [
        {
            "name": "source_parquet",
            "params": {"sf_dir": sf_dir, "table": "documents", "output": "docs"},
        },
        {
            "name": "dedup_minhash_pairs",
            "params": {
                "input": "docs",
                "key": "doc_id",
                "text": "text",
                "threshold": 0.2,
                "output": "pairs",
            },
        },
        {
            "name": "dedup_keep_canonical",
            "params": {
                "input": "docs",
                "pairs": "pairs",
                "key": "doc_id",
                "output": "docs_dedup",
            },
        },
        {
            "name": "source_parquet",
            "params": {"sf_dir": sf_dir, "table": "embeddings", "output": "emb"},
        },
        {
            "name": "select",
            "params": {
                "input": "emb",
                "exprs": ["vec_id AS doc_id", "label"],
                "output": "emb_keyed",
            },
        },
        {
            "name": "salted_join",
            "params": {
                "left": "docs_dedup",
                "right": "emb_keyed",
                "on": ["doc_id"],
                "n_salts": 4,
                "output": "joined",
            },
        },
    ]
    ctx = run_reference_graph(spark, graph)
    docs_n = ctx.get("docs").count()
    pairs_n = ctx.get("pairs").count()
    dedup_n = ctx.get("docs_dedup").count()
    assert dedup_n <= docs_n
    losers = (
        ctx.get("pairs").select("key_b").distinct().count()
    )
    assert dedup_n == docs_n - losers
    # Salted join result matches a plain join.
    plain = ctx.get("docs_dedup").join(ctx.get("emb_keyed"), "doc_id").count()
    assert ctx.get("joined").count() == plain
    assert pairs_n >= 0


def test_foreach_batch_upsert(spark, sf_dir, tmp_path):
    """E7-inverted: keyed upsert sink via foreachBatch — second run with the
    same source replaces rather than duplicates."""
    import os

    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.catalog import table_path
    from talkinghead_datapipeline_spark.streaming.incremental import (
        run_foreach_batch_upsert,
    )

    schema = scan_schema(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    os.symlink(table_path(sf_dir, "events"), os.path.join(src, "events.parquet"))
    sink = str(tmp_path / "sink")

    def agg(df):
        return df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

    run_foreach_batch_upsert(
        spark, src, schema, agg, sink, str(tmp_path / "ck1"), key="user_id"
    )
    first = {r.user_id: r.n for r in spark.read.parquet(sink).collect()}
    # Re-run with a FRESH checkpoint: same batch reprocessed → upsert must
    # leave counts identical (no duplicate keys).
    run_foreach_batch_upsert(
        spark, src, schema, agg, sink, str(tmp_path / "ck2"), key="user_id"
    )
    second = {r.user_id: r.n for r in spark.read.parquet(sink).collect()}
    assert first == second
    assert len(second) == spark.read.parquet(sink).select("user_id").distinct().count()


def _one_row_decodes(src: str) -> list[int]:
    """Lines of ``x.decode(...)`` calls with a non-literal argument: a FLAME
    decode takes arrays, a bytes decode takes literal codec names."""
    import ast

    return [
        node.lineno
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "decode"
        and not all(
            isinstance(a, ast.Constant) and isinstance(a.value, str)
            for a in [*node.args, *(k.value for k in node.keywords)]
        )
    ]


def test_model_steps_stack_and_decode_in_one_place():
    """Arrow's nested arrays become ndarrays through
    ``inference.stack_column`` only, and FLAME decodes through
    ``decode_batch`` only. A package module other than
    operators/inference.py that spells ``np.stack([np.asarray(``, or any
    package module that calls a one-row ``.decode(``, fails here."""
    import re
    from pathlib import Path

    from talkinghead_datapipeline_spark.operators import inference

    home = Path(inference.__file__).resolve()
    package = home.parents[1]
    stack = re.compile(r"np\.stack\(\s*\[\s*np\.asarray\(")
    assert stack.search(home.read_text()), "the scan no longer matches the home module"
    assert _one_row_decodes("v, lm = model.decode(sh, ex)\nb.decode('utf-8')") == [1]
    offenders = []
    for path in sorted(package.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(package)
        if path.resolve() != home:
            offenders += [
                f"{rel}: stacks at line {src.count(chr(10), 0, m.start()) + 1}"
                for m in stack.finditer(src)
            ]
        offenders += [f"{rel}: one-row decode at line {n}" for n in _one_row_decodes(src)]
    assert not offenders, offenders


def _render_batch_fns(spark, monkeypatch, sizes):
    """Build the graph up to RenderingNode once per image size; return the
    renderer's model factory, the (size-ordered) batch_fns it was built
    with, and the joined input frame they read."""
    from talkinghead_datapipeline_spark.operators import inference
    from talkinghead_datapipeline_spark.plans.reference_compat import synthetic_clips

    real = inference.batched_inference
    renderers = []

    def capture(df, output_schema, model_key, model_factory, batch_fn):
        if model_key == "renderer":
            renderers.append((model_factory, batch_fn))
        return real(df, output_schema, model_key, model_factory, batch_fn)

    monkeypatch.setattr(inference, "batched_inference", capture)
    video = synthetic_clips(spark, n_clips=1, n_frames=2)
    upstream = [
        {"name": name, "params": {}}
        for name in ("VideoToImagesNode", "FaceAlignmentNode", "FixedBboxesNode", "CropNode", "EmocaNode", "FlameNode")
    ]
    for size in sizes:
        ctx = run_reference_graph(spark, [*upstream, {"name": "RenderingNode", "params": {"image_size": size}}], {"video": video})
    joined = ctx.get("flame_out").join(ctx.get("emoca_codes").select("clip_name", "frame_idx", "cam"), ["clip_name", "frame_idx"])
    return renderers[0][0], [fn for _, fn in renderers], joined


def test_rendering_node_follows_image_size(spark, monkeypatch):
    # A reused Python worker hands every graph's batch_fn the resource it
    # cached under the model key for the first graph it ran.
    factory, (render12, render20), joined = _render_batch_fns(spark, monkeypatch, (12, 20))
    pdf = joined.toPandas()
    cached = factory()
    assert {len(b) for b in render12(cached, pdf)["render_uv"]} == {144}
    assert {len(b) for b in render20(cached, pdf)["render_uv"]} == {400}


def test_batched_inference_skips_empty_batches(spark, monkeypatch):
    # The harness, not each batch_fn, handles an empty Arrow batch: it
    # never reaches batch_fn and yields no rows.
    df = spark.range(1).withColumnRenamed("id", "x")
    captured = []
    monkeypatch.setattr(type(df), "mapInPandas", lambda self, fn, schema: captured.append(fn))
    seen = []

    def batch_fn(_model, pdf):
        seen.append(len(pdf))
        return pd.DataFrame({"x": pdf["x"], "y": pdf["x"] * 2})

    batched_inference(df, "x long, y long", "empty_batch_probe", lambda: None, batch_fn)
    empty = pd.DataFrame({"x": pd.Series([], dtype="int64")})
    out = list(captured[0](iter([empty, pd.DataFrame({"x": [3]})])))
    assert seen == [1]
    assert [o.to_dict("records") for o in out] == [[{"x": 3, "y": 6, "error": None}]]


_MIN_REPEAT = 10  # code lines


def _code_lines(path: str) -> list[tuple[int, str]]:
    """(line number, whitespace-normalized text) of each code line of
    ``path``: imports, docstrings, comments and blank lines dropped. Lines
    inside other string literals (SQL text) are code."""
    with open(path) as f:
        src = f.read()
    drop: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            drop.update(range(node.lineno, node.end_lineno + 1))
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            drop.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines = src.splitlines()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    return [
        (no, " ".join(line.split()))
        for no, line in enumerate(lines, 1)
        if line.strip() and no not in drop
    ]


def _repeated_blocks(root: str) -> list[str]:
    """Every maximal run of at least ``_MIN_REPEAT`` identical consecutive
    code lines that appears at two places under ``root``, as
    ``"a.py:L == b.py:L (n lines)"``, one entry per pair of places."""
    files = {}
    for d, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                files[os.path.relpath(path, root)] = _code_lines(path)
    windows = defaultdict(list)
    for f, lines in files.items():
        for i in range(len(lines) - _MIN_REPEAT + 1):
            windows[tuple(t for _, t in lines[i : i + _MIN_REPEAT])].append((f, i))
    # a pair of places repeats along a diagonal: (fa, fb, offset) -> starts
    diagonals = defaultdict(list)
    for places in windows.values():
        for k, (fa, ia) in enumerate(places):
            for fb, ib in places[k + 1 :]:
                diagonals[(fa, fb, ib - ia)].append(ia)
    blocks = []
    for (fa, fb, off), starts in sorted(diagonals.items()):
        starts.sort()
        run = [starts[0]]
        for i in starts[1:] + [None]:
            if i is not None and i == run[-1] + 1:
                run.append(i)
                continue
            blocks.append(
                f"{fa}:{files[fa][run[0]][0]} == {fb}:{files[fb][run[0] + off][0]}"
                f" ({len(run) + _MIN_REPEAT - 1} lines)"
            )
            if i is not None:
                run = [i]
    return sorted(blocks)


def test_no_repeated_code_blocks():
    """A stage two queries share has one definition (a helper, a CTE
    fragment) that both call: no run of ``_MIN_REPEAT`` or more code lines
    appears twice in the package."""
    root = os.path.dirname(talkinghead_datapipeline_spark.__file__)
    assert _repeated_blocks(root) == []


# Trees whose calls count as uses of a package option.
_CALLER_TREES = (
    "talkinghead_datapipeline_spark", "tests", "tools", "bench.py", "perfbench", "plans/pipeline"
)
# get_spark's deployment settings: set per box, not per call.
_OPTION_EXEMPT = {"session.py get_spark(master)", "session.py get_spark(shuffle_partitions)"}


def _unused_options(repo: str) -> list[str]:
    """Every defaulted parameter of a package function or method that no
    call under ``_CALLER_TREES`` passes, by keyword or by position, as
    ``"module.py:L Class.fn(param)"``, and every one that each call passes
    as the same literal, as ``"module.py:L Class.fn(param) always <value>"``.
    Calls match by callee name (a class name for ``__init__``), so a
    same-named callee passing it counts as a use, and a ``*args`` /
    ``**kwargs`` call passes everything, as no literal."""
    pkg = os.path.join(repo, "talkinghead_datapipeline_spark")
    trees = {}
    for top in _CALLER_TREES:
        top = os.path.join(repo, top)
        walk = [("", [], [top])] if top.endswith(".py") else os.walk(top)
        for d, _, names in walk:
            for name in names:
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    with open(path) as fh:
                        trees[path] = ast.parse(fh.read())
    calls = defaultdict(list)
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                calls[getattr(f, "id", None) or getattr(f, "attr", None)].append(n)
    unused = []
    for path, tree in trees.items():
        if not path.startswith(pkg + os.sep):
            continue
        methods = {
            id(m): c.name
            for c in ast.walk(tree)
            if isinstance(c, ast.ClassDef)
            for m in c.body
            if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a, self_arg = fn.args, int(id(fn) in methods)
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            defaulted = [(p.arg, i - self_arg) for i, p in enumerate(pos) if i >= first]
            defaulted += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            callee = methods[id(fn)] if fn.name == "__init__" else fn.name
            mod = os.path.relpath(path, pkg)
            name = f"{methods[id(fn)]}.{fn.name}" if self_arg else fn.name
            for param, i in defaulted:
                # per call, the argument node it passes for ``param``, a
                # non-literal stand-in for a splat, or None when it leaves
                # the default
                passed = []
                for c in calls[callee]:
                    kw = [k for k in c.keywords if k.arg in (param, None)]
                    if kw:
                        passed.append(kw[0].value if kw[0].arg else c)
                    elif any(isinstance(x, ast.Starred) for x in c.args):
                        passed.append(c)
                    else:
                        passed.append(c.args[i] if i is not None and len(c.args) > i else None)
                if f"{mod} {name}({param})" in _OPTION_EXEMPT:
                    continue
                if not any(passed):
                    unused.append(f"{mod}:{fn.lineno} {name}({param})")
                elif all(isinstance(x, ast.Constant) for x in passed):
                    values = {repr(x.value) for x in passed}
                    if len(values) == 1:
                        unused.append(f"{mod}:{fn.lineno} {name}({param}) always {values.pop()}")
    return sorted(unused)


def test_no_unused_options():
    """An option is a parameter some callers set to different values: a
    defaulted parameter that every call leaves at its default, or that
    every call sets to the same literal, is a constant, so it is written
    as one."""
    repo = os.path.dirname(os.path.dirname(talkinghead_datapipeline_spark.__file__))
    assert _unused_options(repo) == []
