"""The streaming tier's staging homes: the micro-batch replay helper, the
arrival contract written in one module, and exit-time removal of the
streaming queries' work dirs."""

from __future__ import annotations

import ast
import glob
import os
import tempfile
from pathlib import Path

from talkinghead_datapipeline_spark.queries import streaming_queries as sq
from talkinghead_datapipeline_spark.streaming import incremental

REPO = Path(incremental.__file__).resolve().parents[2]


def test_replay_micro_batches_arrives_in_list_order(spark, tmp_path):
    """Batches of 3, 1 and 2 rows replay as micro-batches 0..2 with those
    input counts, in list order, and every row reaches the sink."""
    sizes = [3, 1, 2]
    batches = [spark.range(n).selectExpr(f"CAST({k} AS INT) AS k", "id") for k, n in enumerate(sizes)]
    metrics, sink = incremental.replay_micro_batches(batches, "k int, id bigint", lambda s: s, str(tmp_path))
    assert metrics == [(0, 3, 0), (1, 1, 0), (2, 2, 0)]
    rows = spark.read.parquet(sink).groupBy("k").count().collect()
    assert {r["k"]: r["count"] for r in rows} == dict(enumerate(sizes))


def test_stream_staging_has_one_home():
    """Landing-file mtimes and the one-file trigger bound are written only in
    streaming/incremental.py; the streaming queries make temp work dirs
    only through ``_work_dir``."""
    spellings = ("os.utime(", "maxFilesPerTrigger")
    home = Path(incremental.__file__).resolve()
    assert all(s in home.read_text() for s in spellings), "the scan no longer matches the home module"
    offenders = [
        f"{path.relative_to(REPO)}: {s}"
        for root in ("talkinghead_datapipeline_spark", "tests")
        for path in sorted((REPO / root).rglob("*.py"))
        if path.resolve() not in (home, Path(__file__).resolve())
        for s in spellings
        if s in path.read_text()
    ]
    queries = Path(sq.__file__).read_text()
    helper = next(n for n in ast.parse(queries).body if getattr(n, "name", None) == "_work_dir")
    helper_src = ast.get_source_segment(queries, helper)
    assert "tempfile.mkdtemp" in helper_src
    if "tempfile.mkdtemp" in queries.replace(helper_src, ""):
        offenders.append("queries/streaming_queries.py: tempfile.mkdtemp outside _work_dir")
    assert not offenders, offenders


def test_stream_work_dirs_removed_at_exit(spark, sf_dir, monkeypatch):
    """Every work dir the streaming queries create is registered for
    exit-time removal, and the exit hook removes it."""
    monkeypatch.setattr(sq, "_WORK_DIRS", [])

    def dirs():
        return {d for n in ("hourly", "upsert") for d in glob.glob(os.path.join(tempfile.gettempdir(), f"thdp_stream_{n}_*"))}

    before = dirs()
    for build in (sq.streaming_hourly_event_counts, sq.streaming_foreachbatch_upsert):
        assert build(spark, sf_dir).collect()
    created = dirs() - before
    assert len(created) == 2 and created == set(sq._WORK_DIRS)
    sq._remove_work_dirs()
    assert not any(os.path.exists(d) for d in created)
