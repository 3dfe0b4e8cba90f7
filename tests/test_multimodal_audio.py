"""Round-6 gate for the REAL audio codec (operators/multimodal.py): the
fixture synthesizer must emit genuine, stdlib-parseable PCM WAV containers,
and extract_audio_features must compute its statistics from the DECODED
samples — hand-checked here against a known waveform, independent of the
SQL oracle that guards the same math at the registry level."""

import io
import wave

import pytest

from kiji_scoring_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def wav_rows(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "`"), (3, ""), (4, "aZa")], ["doc_id", "text"]
    )
    out = mm.synthesize_wav_payloads(df, "doc_id", "text")
    return {r.media_id: bytes(r.payload) for r in out.collect()}


def test_payloads_are_real_wav_containers(wav_rows):
    for text, mid in [("abc", 1), ("`", 2), ("", 3)]:
        with wave.open(io.BytesIO(wav_rows[mid]), "rb") as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getframerate() == 16_000
            assert w.getnframes() == len(text)
    # header size pin: a 0-frame file is pure container
    assert len(wav_rows[3]) == mm.WAV_HEADER_BYTES
    assert len(wav_rows[1]) == mm.WAV_HEADER_BYTES + 2 * 3


def test_decoded_samples_match_derivation(wav_rows):
    with wave.open(io.BytesIO(wav_rows[1]), "rb") as w:
        frames = w.readframes(w.getnframes())
    import numpy as np

    x = np.frombuffer(frames, dtype="<i2")
    # 'abc' -> ords 97,98,99 -> (ord-96)*256
    assert list(x) == [256, 512, 768]


def test_features_hand_computed(spark):
    # 'aZa': ords 97,90,97 -> samples 256, -1536, 256
    #   n_frames=3, duration=3*1000//16000=0, mean_abs=(256+1536+256)/3,
    #   peak=1536, zero crossings: (+,-) and (-,+) -> 2
    df = spark.createDataFrame([(4, "aZa")], ["doc_id", "text"])
    media = mm.attach_media_columns(
        mm.synthesize_wav_payloads(df, "doc_id", "text"), "media_id", "payload"
    )
    r = mm.extract_audio_features(media).collect()[0]
    assert r.media_id == 4
    assert r.n_bytes == mm.WAV_HEADER_BYTES + 6
    assert r.sample_rate == 16_000
    assert r.n_frames == 3
    assert r.duration_ms == 0
    assert r.mean_abs_amplitude == pytest.approx(2048 / 3, abs=0)
    assert r.peak_amplitude == 1536
    assert r.zero_crossings == 2


def test_zero_frame_file_decodes_to_silence(spark):
    df = spark.createDataFrame([(3, "")], ["doc_id", "text"])
    media = mm.attach_media_columns(
        mm.synthesize_wav_payloads(df, "doc_id", "text"), "media_id", "payload"
    )
    r = mm.extract_audio_features(media).collect()[0]
    assert (r.n_frames, r.duration_ms, r.mean_abs_amplitude,
            r.peak_amplitude, r.zero_crossings) == (0, 0, 0.0, 0, 0)


def test_resize_stage_real_resample_contract(spark):
    """resize_images is the one multimodal stage no registry query uses:
    pin its contract here so it can't rot. It is a REAL pixel path:
    decode PNG -> nearest-neighbor resample -> re-encode PNG; a NULL
    payload passes through as an all-NULL row (missing asset != decode
    error), its width and height included."""
    import numpy as np

    # 2x2 grayscale checkerboard -> upsample 4x4: each pixel becomes 2x2
    src = mm._png_encode(np.array([[0, 255], [255, 0]], dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(src)), (2, None)], "doc_id long, body binary"
    )
    media = mm.attach_media_columns(df, "doc_id", "body")
    out = {r.media_id: r for r in mm.resize_images(media, 4, 4).collect()}
    w, h, ch, px = mm._png_decode(bytes(out[1].payload))
    assert (w, h, ch) == (4, 4, 1)
    expect = np.kron(np.array([[0, 255], [255, 0]]), np.ones((2, 2))).astype(np.uint8)
    assert (px.reshape(4, 4) == expect).all()
    assert (out[2].payload, out[2].width, out[2].height) == (None, None, None)
    assert (out[1].width, out[1].height) == (4, 4)


def test_null_text_yields_null_payload_not_crash(spark):
    """r7 (advice): synthesize_wav_payloads is public API — a NULL text row
    must map to a NULL payload, not TypeError the whole Arrow batch."""
    df = spark.createDataFrame([(1, "abc"), (2, None)], ["doc_id", "text"])
    out = {r.media_id: r.payload for r in
           mm.synthesize_wav_payloads(df, "doc_id", "text").collect()}
    assert out[2] is None
    assert out[1] is not None and bytes(out[1])[:4] == b"RIFF"


def test_null_payload_yields_null_feature_row(spark):
    """r7 (review): NULL payload = missing asset (module-wide contract) —
    a NULL-features row with the id preserved, not an EOFError crash.
    EMPTY (b'') payloads still fail fast below."""
    df = spark.createDataFrame([(9, None)], "media_id long, payload binary")
    r = mm.extract_audio_features(df).collect()[0]
    assert r.media_id == 9
    assert (r.n_bytes, r.sample_rate, r.n_frames, r.duration_ms,
            r.mean_abs_amplitude, r.peak_amplitude, r.zero_crossings
            ) == (None,) * 7


def test_non_mono16_wav_raises_explicitly(spark):
    """r7 (advice): the sampwidth/channels precondition was a bare assert
    (stripped under python -O → silently wrong stats on stereo/8-bit WAVs);
    now an explicit wave.Error. Also: empty payloads raise EOFError from
    the chunk parser — part of the documented fail-fast contract."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)  # stereo — outside the decoder's contract
        w.setsampwidth(2)
        w.setframerate(16_000)
        w.writeframes(b"\x00\x01" * 8)
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], ["media_id", "payload"]
    )
    with pytest.raises(Exception, match="16-bit mono PCM"):
        mm.extract_audio_features(media).collect()
    empty = spark.createDataFrame([(1, bytearray(b""))], ["media_id", "payload"])
    with pytest.raises(Exception, match="EOFError|unexpected end"):
        empty_result = mm.extract_audio_features(empty).collect()  # noqa: F841


def test_zero_frame_rate_raises_wave_error(spark):
    """The stdlib reader accepts a fmt chunk whose frame rate is 0; the
    decoder must refuse it with the documented ``wave.Error``, not fail
    with a ZeroDivisionError in the duration."""
    import struct

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16_000)
        w.writeframes(b"\x01\x00\x02\x00")
    raw = bytearray(buf.getvalue())
    raw[24:28] = struct.pack("<I", 0)  # the fmt chunk's sample rate
    with wave.open(io.BytesIO(bytes(raw)), "rb") as r:
        assert r.getframerate() == 0  # the stdlib accepts it
    media = spark.createDataFrame([(1, raw)], "media_id long, payload binary")
    with pytest.raises(Exception, match="frame rate must be positive, got 0"):
        mm.extract_audio_features(media).collect()
