"""ffmpeg subprocess operators (N1/N2/N4/N5) against a stub executable.

The real pipeline starts with VideoToImagesNode / VideoToWavNode
(dpl/processor/nodes/ffmpeg.py:114-156). This runtime has no ffmpeg binary,
so the GATE is the binary, not the code: these tests run the full
mapInPandas → temp file → subprocess → read-back path against a small bash
stand-in that honors the reference's argument shape (`-i <src> ... <target>
-y`) and ffmpeg's image2 sequence semantics: `%06d{ext}` frame templates,
ZERO-padded filenames (av_get_frame_filename expands %6d/%06d to
zero-padding — a space-padded stub would hide a real-binary mismatch).
"""

from __future__ import annotations

import textwrap

import pandas as pd
import pytest

from talkinghead_datapipeline_spark.sources.media import (
    frames_to_video,
    transcode_media,
    video_to_frames,
)

_STUB = textwrap.dedent(
    """\
    #!/bin/bash
    # ffmpeg stand-in: parse `-i <src>`; target is the second-to-last arg
    # (the last is `-y`, matching the reference command templates).
    args=("$@")
    src=""
    for ((k=0; k<${#args[@]}; k++)); do
      [[ "${args[k]}" == "-i" ]] && src="${args[k+1]}"
    done
    tgt="${args[$((${#args[@]}-2))]}"
    if [[ "$src" == *%06d* ]]; then
      d="${src%/*}"
      # real ffmpeg only finds ZERO-padded frame files for a %06d pattern;
      # fail loudly (like ffmpeg: "No such file") if none match.
      compgen -G "$d/0*" > /dev/null || exit 1
      { printf 'MUXED:'; cat "$d"/0*; } > "$tgt"
    elif [[ "$tgt" == *%06d* ]]; then
      d="${tgt%/*}"; ext="${tgt##*%06d}"
      for n in 0 1 2; do
        { printf 'FRAME%d:' "$n"; cat "$src"; } > "$d/$(printf '%06d' "$n")$ext"
      done
    else
      { printf 'TRANSCODED:'; cat "$src"; } > "$tgt"
    fi
    """
)


@pytest.fixture
def stub_ffmpeg(tmp_path):
    p = tmp_path / "ffmpeg"
    p.write_text(_STUB)
    p.chmod(0o755)
    return str(p)


@pytest.fixture
def failing_ffmpeg(tmp_path):
    p = tmp_path / "ffmpeg-broken"
    p.write_text("#!/bin/bash\nexit 3\n")
    p.chmod(0o755)
    return str(p)


def _clips(spark):
    return spark.createDataFrame(
        pd.DataFrame({"clip_name": ["a", "b"], "content": [b"AAA", b"BBB"]})
    )


def test_video_to_frames_subprocess(spark, stub_ffmpeg):
    out = video_to_frames(_clips(spark), ffmpeg_exe=stub_ffmpeg).collect()
    assert all(r.error is None for r in out)
    frames = {(r.clip_name, r.frame_idx): bytes(r.image) for r in out}
    assert len(frames) == 6  # 3 frames x 2 clips, frame_idx from %06d names
    assert frames[("a", 0)] == b"FRAME0:AAA"
    assert frames[("a", 2)] == b"FRAME2:AAA"
    assert frames[("b", 1)] == b"FRAME1:BBB"


def test_transcode_media_subprocess(spark, stub_ffmpeg):
    out = transcode_media(_clips(spark), ffmpeg_exe=stub_ffmpeg).collect()
    got = {r.clip_name: bytes(r.media) for r in out}
    assert got == {"a": b"TRANSCODED:AAA", "b": b"TRANSCODED:BBB"}
    assert all(r.error is None for r in out)


def test_demux_mux_roundtrip(spark, stub_ffmpeg):
    # N2 → N3: explode a clip to frames, then mux the frames back — the
    # grouped applyInPandas sink writes zero-padded %06d-named files like
    # the reference's f"{index:06d}.jpg".
    frames = video_to_frames(_clips(spark), ffmpeg_exe=stub_ffmpeg)
    out = frames_to_video(
        frames.drop("error"), ffmpeg_exe=stub_ffmpeg
    ).collect()
    got = {r.clip_name: (bytes(r.video), r.n_frames) for r in out}
    assert got["a"] == (b"MUXED:FRAME0:AAAFRAME1:AAAFRAME2:AAA", 3)
    assert got["b"][1] == 3
    assert all(r.error is None for r in out)


def test_failed_clip_routes_to_error_channel(spark, failing_ffmpeg):
    out = video_to_frames(_clips(spark), ffmpeg_exe=failing_ffmpeg).collect()
    assert len(out) == 2  # one quarantine row per clip, pipeline continues
    assert all(r.image is None and "CalledProcessError" in r.error for r in out)


def test_failed_mux_and_transcode_route_to_error_channel(spark, failing_ffmpeg):
    frames = spark.createDataFrame(
        pd.DataFrame({"clip_name": ["a", "a", "b"], "frame_idx": [0, 1, 0], "image": [b"x", b"y", b"z"]})
    )
    muxed = frames_to_video(frames, ffmpeg_exe=failing_ffmpeg).collect()
    assert sorted((r.clip_name, r.video, r.n_frames) for r in muxed) == [("a", None, 2), ("b", None, 1)]
    assert all("CalledProcessError" in r.error for r in muxed)
    converted = transcode_media(_clips(spark), ffmpeg_exe=failing_ffmpeg).collect()
    assert sorted((r.clip_name, r.media) for r in converted) == [("a", None), ("b", None)]
    assert all("CalledProcessError" in r.error for r in converted)


def test_ffmpeg_argument_vectors(spark, stub_ffmpeg, tmp_path):
    # The reference's command templates (dpl/processor/nodes/ffmpeg.py:13-26)
    # as argument vectors; a recording wrapper logs each call's argv.
    log = tmp_path / "argv"
    log.mkdir()
    rec = tmp_path / "ffmpeg-rec"
    rec.write_text(f'#!/bin/bash\nprintf "%s\\n" "$@" > "{log}/$$.args"\nexec {stub_ffmpeg} "$@"\n')
    rec.chmod(0o755)

    def calls():
        import re

        got = sorted(
            tuple(re.sub(r"^.*/(in\.\w+|out\.\w+|frames/.*)$", r"\1", a) for a in f.read_text().splitlines())
            for f in log.iterdir()
        )
        for f in log.iterdir():
            f.unlink()
        return got

    base = ("-hide_banner", "-loglevel", "panic", "-nostats", "-i")
    to_img = ("-start_number", "0", "-qscale:v", "3")
    clip = spark.createDataFrame(pd.DataFrame({"clip_name": ["a"], "content": [b"AAA"]}))
    frames = video_to_frames(clip, ffmpeg_exe=str(rec)).drop("error").collect()
    assert calls() == [(*base, "in.video", *to_img, "frames/%06d.jpg", "-y")]
    frames_to_video(spark.createDataFrame(frames), ffmpeg_exe=str(rec)).collect()
    assert calls() == [(*base, "frames/%06d.jpg", *to_img, "out.mp4", "-y")]
    transcode_media(clip, ffmpeg_exe=str(rec)).collect()
    assert calls() == [(*base, "in.media", "out.wav", "-y")]


def test_graph_node_uses_real_demux(spark, stub_ffmpeg):
    # VideoToImagesNode with ffmpeg_exe runs the subprocess path, not the
    # byte-chunk stand-in: 3 stub frames, not len(video)/FRAME_BYTES.
    from talkinghead_datapipeline_spark.plans.reference_compat import (
        run_reference_graph,
    )

    video = spark.createDataFrame(
        pd.DataFrame({"clip_name": ["c"], "video": [b"XYZ"]})
    )
    ctx = run_reference_graph(
        spark,
        [{"name": "VideoToImagesNode", "params": {"ffmpeg_exe": stub_ffmpeg}}],
        {"video": video},
    )
    rows = ctx.get("images").collect()
    assert {(r.clip_name, r.frame_idx) for r in rows} == {("c", 0), ("c", 1), ("c", 2)}
    assert bytes(sorted(rows, key=lambda r: r.frame_idx)[0].image) == b"FRAME0:XYZ"


def test_gate_raises_without_binary(spark):
    # no ffmpeg on PATH in this runtime and no explicit exe → loud gate,
    # raised driver-side before any job is launched.
    import shutil

    if shutil.which("ffmpeg") is not None:
        pytest.skip("real ffmpeg present; gate not reachable")
    with pytest.raises(NotImplementedError, match="ffmpeg not available"):
        video_to_frames(_clips(spark))


def test_run_reports_quarantined_clips(spark, failing_ffmpeg, tmp_path):
    # Every clip fails to demux: no frame is written, and the report counts
    # the quarantined clips with one of their errors.
    import json

    from talkinghead_datapipeline_spark.run import run

    media = tmp_path / "media"
    media.mkdir()
    for name in ("a.mp4", "b.mp4", "c.mp4"):
        (media / name).write_bytes(b"not a video")
    graph = tmp_path / "graph.json"
    graph.write_text(json.dumps([{"name": "VideoToImagesNode", "params": {"ffmpeg_exe": failing_ffmpeg}}]))
    report = run(spark, str(graph), {"video": str(media)}, str(tmp_path / "out"))
    images = {r["name"]: r for r in report}["images"]
    assert (images["status"], images["total"], images["quarantined"]) == ("written", 0, 3)
    assert "CalledProcessError" in images["sample_error"]
