"""Binary media ingest — E1 directory scan + E2 key derivation + multimodal
columns (SURVEY §2.a E1/E2, §1.4, north-star multimodal).

The reference scans directory roots per datatype and derives the clip key
from the relative path: ``"_".join(rel_path.with_suffix("").parts)``
(dpl/processor/engine.py:97-98, dpl/common.py:13-27). Spark-first:

- ``spark.read.format("binaryFile")`` with ``pathGlobFilter`` /
  ``recursiveFileLookup`` is the scan (distributed listing, no driver walk);
- the key is a column expression over ``path`` — stays in codegen;
- media cells are **opaque binary columns + typed metadata structs**
  (length, modification time, probed attributes), the 100 TB-safe
  representation: decode happens late, inside Arrow-batched UDFs, only for
  rows that survive pushed-down filters.

ffmpeg-backed transcode/demux (N2-N5) runs the real subprocess pipeline
(``mapInPandas`` → temp file → ffmpeg → read outputs back as rows) with the
reference's exact command templates (dpl/processor/nodes/ffmpeg.py:13-26).
The GATE is the binary, not the code: when no ffmpeg executable is
available the operators raise NotImplementedError driver-side; tests
exercise the full subprocess path against a stub executable.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import tempfile

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.shipping import ensure_package_shipped, release_zip_finders

# Reference command templates (dpl/processor/nodes/ffmpeg.py:13-26), as arg
# vectors: same flags, no shell. `< /dev/null` becomes stdin=DEVNULL;
# stdout/stderr are swallowed exactly like the reference's sp.run call.
_FFMPEG_BASE_ARGS = ("-hide_banner", "-loglevel", "panic", "-nostats")
_FFMPEG_TO_IMG_ARGS = ("-start_number", "0", "-qscale:v", "3")


def _resolve_ffmpeg(ffmpeg_exe: str | None) -> str:
    """Driver-side gate: fail fast when the binary is absent (the reference
    assumes ffmpeg on PATH; this runtime usually lacks it). An explicit
    ``ffmpeg_exe`` bypasses PATH — also how tests inject a stub binary,
    since live python workers do not see driver-side PATH edits."""
    exe = ffmpeg_exe or shutil.which("ffmpeg")
    if exe is None:
        raise NotImplementedError(
            "ffmpeg not available in this runtime; pass ffmpeg_exe= or add "
            "the binary to PATH (frame-grain semantics are also covered by "
            "image_frames_from_dir + fake decode in tests)"
        )
    return exe


def clip_name_from_path(path: Column, root: str) -> Column:
    """E2: relative path, suffix stripped, parts joined with '_'
    (engine.py:97-98) — as a pure string expression."""
    rel = F.regexp_replace(path, f"^file:{root.rstrip('/')}/", "")
    no_suffix = F.regexp_replace(rel, r"\.[^./]+$", "")
    return F.regexp_replace(no_suffix, "/", "_")


def scan_binary_dir(spark: SparkSession, root: str, glob: str = "*") -> DataFrame:
    """E1 source scan: one row per file with clip_name key + binary payload
    + metadata struct. Deterministic order comes from orderBy(path) at the
    consumer (E4), never from listing order."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    return df.select(
        clip_name_from_path(F.col("path"), root).alias("clip_name"),
        F.col("path"),
        F.col("content"),
        F.struct(
            F.col("length").alias("n_bytes"),
            F.col("modificationTime").alias("modified_at"),
        ).alias("meta"),
    )


def image_frames_from_dir(spark: SparkSession, root: str) -> DataFrame:
    """FolderType image-sequence ingest (datatype.py:42-57): frame rows keyed
    (clip_name, frame_idx) — frame_idx parsed from the %06d filename."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    frame_idx = F.regexp_extract(F.col("path"), r"(\d+)\.[^.]+$", 1).cast("bigint")
    clip_dir = F.regexp_replace(F.col("path"), r"/[^/]+$", "")
    return files.select(
        clip_name_from_path(clip_dir, root).alias("clip_name"),
        frame_idx.alias("frame_idx"),
        F.col("content").alias("image"),
        F.col("length").alias("n_bytes"),
    )


def _run_ffmpeg(exe, files, src, out_args, tgt, read):
    """One per-clip ffmpeg call in a fresh temp dir, as the reference's
    argument vector ``exe BASE -i <src> OUT_ARGS <tgt> -y``.

    ``files`` yields ``(path, bytes)`` to write first; ``src`` and ``tgt``
    are paths in the temp dir; ``read(tgt path)`` collects the output.
    Returns ``(read's result, None)``, or ``(None, error text)`` when any
    step fails — E8 containment: the reference's sp.run ignores failures
    silently, and the checked returncode is a deliberate upgrade routed to
    the error channel, not an abort. Runs on executors, so every caller
    ships the package first."""
    try:
        with tempfile.TemporaryDirectory() as td:
            for rel, blob in files:
                path = os.path.join(td, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as fh:
                    fh.write(bytes(blob))
            target = os.path.join(td, tgt)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            subprocess.run(
                [exe, *_FFMPEG_BASE_ARGS, "-i", os.path.join(td, src), *out_args, target, "-y"],
                stdin=subprocess.DEVNULL,
                stdout=subprocess.DEVNULL,
                stderr=subprocess.STDOUT,
                check=True,
            )
            return read(target), None
    except Exception as exc:  # noqa: BLE001 — E8 containment
        return None, f"{type(exc).__name__}: {exc}"


def _read_bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _read_frames(target: str) -> list[tuple[int, bytes]]:
    """(frame_idx, bytes) of every numbered file next to ``target``."""
    frames = []
    frame_dir = os.path.dirname(target)
    for fn in sorted(os.listdir(frame_dir)):
        m = re.match(r"\s*(\d+)", fn)
        if m:
            frames.append((int(m.group(1)), _read_bytes(os.path.join(frame_dir, fn))))
    return frames


def video_to_frames(df: DataFrame, ext: str = ".jpg", ffmpeg_exe: str | None = None) -> DataFrame:
    """N2 demux: ``(clip_name, content)`` video binaries → one row per frame
    ``(clip_name, frame_idx, image)``.

    The reference shells out per clip with FFMPEG_TO_IMG_CMD
    (dpl/processor/nodes/ffmpeg.py:18-21,114-133: ``-start_number 0
    -qscale:v 3 {target}/%6d{ext} -y``) under a joblib process pool; here
    the pool is the executor fleet — ``mapInPandas`` writes each video to
    a task-local temp file, runs the same command, and yields the produced
    frame files as rows. Each clip demuxes inside its own generator step,
    so one giant video never holds a whole batch's frames in memory.
    A failed clip yields one error row (see ``_run_ffmpeg``)."""
    exe = _resolve_ffmpeg(ffmpeg_exe)
    ensure_package_shipped(df.sparkSession)
    cols = ["clip_name", "frame_idx", "image", "error"]
    out_schema = "clip_name string, frame_idx bigint, image binary, error string"

    def demux(batches):
        try:
            for pdf in batches:
                for name, blob in zip(pdf["clip_name"], pdf["content"]):
                    frames, err = _run_ffmpeg(
                        exe, [("in.video", blob)], "in.video",
                        _FFMPEG_TO_IMG_ARGS, f"frames/%06d{ext}", _read_frames,
                    )
                    rows = (
                        [(name, idx, image, None) for idx, image in frames]
                        if err is None
                        else [(name, None, None, err)]
                    )
                    yield pd.DataFrame(rows, columns=cols)
        finally:
            release_zip_finders()

    return df.mapInPandas(demux, schema=out_schema)


def frames_to_video(df: DataFrame, ffmpeg_exe: str | None = None) -> DataFrame:
    """N3 mux: ``(clip_name, frame_idx, image)`` jpg frame rows → one mp4
    binary per clip (ToVideoBaseNode).

    The reference's FFMPEG_TO_VIDEO_CMD (dpl/processor/nodes/ffmpeg.py:23-26,
    136-143: ``-i {source}/%6d{ext} -start_number 0 -qscale:v 3 {target}
    -y``) consumes a frame DIRECTORY; here each clip's frames are gathered
    with ``applyInPandas`` (the grouped-sink shape), written to a task-local
    temp dir under zero-padded %06d naming (the reference writes
    ``f"{index:06d}.jpg"`` and ffmpeg reads ``%6d`` patterns zero-padded),
    muxed, and the video bytes
    returned as one row. One shuffle on the clip key — the same partitioning
    every frame-grain operator uses, so Exchange reuse applies."""
    exe = _resolve_ffmpeg(ffmpeg_exe)
    ensure_package_shipped(df.sparkSession)
    cols = ["clip_name", "video", "n_frames", "error"]
    out_schema = "clip_name string, video binary, n_frames bigint, error string"

    def mux(pdf: pd.DataFrame) -> pd.DataFrame:
        def frame_files():
            # Zero-padded frame names, matching the reference's
            # f"{index:06d}.jpg" writer (dpl/processor/nodes/ffmpeg.py:18-21)
            # and ffmpeg's image2 demuxer, which reads %6d as zero-padded
            # (av_get_frame_filename expands it to %06d).
            for n, blob in enumerate(pdf.sort_values("frame_idx")["image"]):
                yield "frames/%06d.jpg" % n, blob

        video, err = _run_ffmpeg(
            exe, frame_files(), "frames/%06d.jpg",
            _FFMPEG_TO_IMG_ARGS, "out.mp4", _read_bytes,
        )
        return pd.DataFrame([(pdf["clip_name"].iloc[0], video, len(pdf), err)], columns=cols)

    return df.groupBy("clip_name").applyInPandas(mux, schema=out_schema)


def transcode_media(df: DataFrame, ffmpeg_exe: str | None = None) -> DataFrame:
    """N1/N4/N5 convert: ``(clip_name, content)`` media binaries → one
    ``(clip_name, media)`` wav binary per clip.

    The reference's FFMPEG_CONVERT_CMD (dpl/processor/nodes/ffmpeg.py:13-16,
    146-156: ``ffmpeg -i {source} {target} -y``) — VideoToWav and AacToWav
    are this with a ``.wav`` target (the suffix selects the muxer, exactly
    as the reference's target path does). Same mapInPandas shape and error
    containment as ``video_to_frames``."""
    exe = _resolve_ffmpeg(ffmpeg_exe)
    ensure_package_shipped(df.sparkSession)
    cols = ["clip_name", "media", "error"]
    out_schema = "clip_name string, media binary, error string"

    def convert(batches):
        try:
            for pdf in batches:
                for name, blob in zip(pdf["clip_name"], pdf["content"]):
                    media, err = _run_ffmpeg(
                        exe, [("in.media", blob)], "in.media",
                        (), "out.wav", _read_bytes,
                    )
                    yield pd.DataFrame([(name, media, err)], columns=cols)
        finally:
            release_zip_finders()

    return df.mapInPandas(convert, schema=out_schema)
