"""The missing-asset contract of every multimodal Arrow stage, and the
guard that keeps those stages built one way.

Each public stage in ``operators/multimodal.py`` is a call into one of
three builders: ``_synthesize`` (text → payload), ``_map_payloads``
(payload → one row) and ``_sample_frames`` (payload → one row per frame).
The NULL rules below hold for all twelve stages; the AST guard fails when
a stage calls ``mapInPandas`` itself instead of going through a builder."""

import ast
import io
import pathlib
import wave

import numpy as np
import pytest

from kiji_scoring_spark.operators import multimodal as mm

SYNTHESIZERS = [
    "synthesize_png_payloads",
    "synthesize_wav_payloads",
    "synthesize_apng_payloads",
    "synthesize_y4m_payloads",
    "synthesize_mjpeg_payloads",
]


def _wav(samples) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16_000)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


_FRAMES = [np.full((8, 8), 40, np.uint8), np.full((8, 8), 90, np.uint8)]

#: stage -> (call on a media frame, a valid payload for it)
ONE_TO_ONE = {
    "extract_image_features": (mm.extract_image_features, lambda: mm._png_encode(_FRAMES[0])),
    "extract_audio_features": (mm.extract_audio_features, lambda: _wav([1, -2, 3])),
    "resize_images": (lambda m: mm.resize_images(m, 4, 4), lambda: mm._png_encode(_FRAMES[0])),
    "embed_payloads": (mm.embed_payloads, lambda: mm._png_encode(_FRAMES[0])),
}
FRAME_SAMPLERS = {
    "sample_frames": (mm.sample_frames, lambda: mm._apng_encode(_FRAMES)),
    "sample_video_frames": (mm.sample_video_frames, lambda: mm._y4m_encode(_FRAMES)),
    "sample_mjpeg_frames": (mm.sample_mjpeg_frames, lambda: mm._mjpeg_encode(_FRAMES)),
}


def _media(spark, payload: bytes):
    return spark.createDataFrame(
        [(1, bytearray(payload)), (2, None)], "media_id long, payload binary"
    )


@pytest.mark.parametrize("name", SYNTHESIZERS)
def test_null_text_gives_null_payload(spark, name):
    df = spark.createDataFrame([(1, "abc"), (2, None)], "doc_id int, text string")
    out = {r.media_id: r.payload for r in getattr(mm, name)(df, "doc_id", "text").collect()}
    assert out[2] is None
    assert out[1] is not None and len(out[1]) > 0


@pytest.mark.parametrize("name", sorted(ONE_TO_ONE))
def test_null_payload_gives_all_null_row(spark, name):
    stage, payload = ONE_TO_ONE[name]
    out = {r.media_id: r for r in stage(_media(spark, payload())).collect()}
    assert sorted(out) == [1, 2]
    assert all(v is None for k, v in out[2].asDict().items() if k != "media_id")
    assert all(v is not None for v in out[1].asDict().values())


@pytest.mark.parametrize("name", sorted(FRAME_SAMPLERS))
def test_null_payload_gives_no_frames(spark, name):
    stage, payload = FRAME_SAMPLERS[name]
    rows = stage(_media(spark, payload())).collect()
    assert sorted((r.media_id, r.frame_idx) for r in rows) == [(1, 0), (1, 1)]
    if "motion_mean" in rows[0].asDict():
        motion = {r.frame_idx: r.motion_mean for r in rows}
        assert motion == {0: None, 1: 50.0}


def test_stage_lists_cover_every_public_stage():
    public = {
        n for n in dir(mm)
        if n.startswith(("synthesize_", "extract_", "sample_", "resize_", "embed_"))
    }
    assert public == set(SYNTHESIZERS) | set(ONE_TO_ONE) | set(FRAME_SAMPLERS)


BUILDERS = {"_synthesize", "_map_payloads", "_sample_frames"}


def test_map_in_pandas_only_inside_the_builders():
    path = pathlib.Path(mm.__file__)
    tree = ast.parse(path.read_text())
    callers = []
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
            ):
                callers.append(getattr(top, "name", type(top).__name__))
    assert sorted(callers) == sorted(BUILDERS), (
        f"mapInPandas called outside the three builders: {callers}"
    )
