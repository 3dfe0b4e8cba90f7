"""Multimodal column plumbing (SURVEY §2.G): image/audio/video payloads as
opaque ``BinaryType`` columns with typed metadata structs, processed by
Arrow-batched ``mapInPandas`` stages.

Codecs, all native on stdlib + numpy:

- PNG (`_png_encode`/`_png_decode`): chunked container, CRCs verified,
  zlib-inflated IDAT, all five scanline filters.
- Animated PNG (`_apng_encode`/`_apng_decode`): acTL/fcTL/fdAT chunks with
  the shared sequence counter; a plain PNG is a one-frame animation.
- PCM WAV (stdlib ``wave``): 16-bit mono.
- YUV4MPEG2 (`_y4m_encode`/`_y4m_decode`): text header, FRAME-delimited raw
  planes, Cmono/C420*/C444.
- Baseline JPEG and raw MJPEG (`_jpeg_encode`/`_jpeg_decode_at`/
  `_mjpeg_decode`): ITU-T T.81 8x8 DCT, Annex K tables, byte-stuffed
  Huffman stream, interleaved MCUs, restart markers; an MJPEG stream is
  concatenated JPEGs.

Inter-frame codecs (H.264/VP9: motion compensation, CABAC) need ffmpeg; a
deployment swaps a decoder for an ffmpeg call without touching any Spark
code.

Every stage is built by one of three builders: `_synthesize` (text →
payload), `_map_payloads` (payload → one feature row) and `_sample_frames`
(payload → one row per frame). They share the missing-asset rule: NULL text
gives a NULL payload, a NULL payload gives an all-NULL row (one-to-one) or
no rows (one-to-many), and a malformed payload raises.

Scale notes: payloads stay in executor memory one Arrow batch at a time
(``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch bytes);
nothing is collected to the driver; feature extraction is a narrow map —
no shuffle. Repartition upstream by size if payloads are skewed (a few
10 MB videos among 10 KB thumbnails).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal row: opaque payload + typed metadata. The metadata
#: struct is what relational queries filter/join on; the payload is only
#: touched inside mapInPandas stages.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("n_bytes", LongType()),
                    StructField("sha256", StringType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("mean_intensity", DoubleType()),
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_mean", DoubleType()),
        StructField("frame_peak", IntegerType()),
    ]
)

VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_mean", DoubleType()),
        StructField("frame_peak", IntegerType()),
        # mean |luma(f) - luma(f-1)| over the frame — NULL for frame 0
        StructField("motion_mean", DoubleType()),
    ]
)

RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("mean_abs_amplitude", DoubleType()),
        StructField("peak_amplitude", IntegerType()),
        StructField("zero_crossings", LongType()),
    ]
)

#: PCM WAV header size written by CPython's `wave` module for a plain
#: 16-bit mono file (RIFF(12) + fmt(24) + data header(8)); pinned by
#: tests/test_multimodal_audio.py so a stdlib change can't drift silently.
WAV_HEADER_BYTES = 44


def attach_media_columns(df: DataFrame, id_col: str, payload_col) -> DataFrame:
    """Normalize any (id, binary) pair into the canonical MEDIA_SCHEMA shape.
    Metadata is computed JVM-side (octet_length/sha2, magic-byte mime
    sniff) — no Python in this stage. The mime field is sniffed from the
    payload: PNG signature (with a fixed-offset acTL chunk-tag check
    distinguishing animated PNG), RIFF/WAVE audio, YUV4MPEG2 video, and the
    JPEG SOI + marker prefix (a single JPEG or a raw MJPEG stream); anything
    unrecognized — including a NULL payload — falls back to
    application/octet-stream, while a NULL payload's n_bytes/sha256 stay
    NULL (missing asset, not a digest of nothing)."""
    payload = payload_col if not isinstance(payload_col, str) else F.col(payload_col)
    sig8 = F.substring(payload, 1, 8)
    mime = (
        F.when(
            sig8 == F.lit(b"\x89PNG\r\n\x1a\n"),
            # acTL must precede the first IDAT (APNG spec) and in practice
            # directly follows IHDR, putting its chunk TAG at the fixed
            # 1-indexed offset 38 (8 signature + 25 IHDR chunk + 4 length
            # prefix) — where this module's encoder and common writers put
            # it. Checking the tag at a CHUNK BOUNDARY, not by scanning
            # content, means no false positive is possible:
            # bytes 38-41 are always a chunk tag, never compressed IDAT
            # content. The miss direction remains: an exotic APNG with
            # ancillary chunks between IHDR and acTL sniffs as plain
            # image/png — benign (still readers treat it as one).
            F.when(
                F.substring(payload, 38, 4) == F.lit(b"acTL"),
                F.lit("image/apng"),
            ).otherwise(F.lit("image/png")),
        )
        .when(
            (F.substring(payload, 1, 4) == F.lit(b"RIFF"))
            & (F.substring(payload, 9, 4) == F.lit(b"WAVE")),
            F.lit("audio/wav"),
        )
        .when(
            F.substring(payload, 1, 10) == F.lit(b"YUV4MPEG2 "),
            # ffmpeg's demuxer name for the format; y4m has no IANA type
            F.lit("video/x-yuv4mpeg"),
        )
        .when(
            # SOI + any marker prefix: covers both a single JPEG and a raw
            # MJPEG stream (which IS concatenated JPEGs — telling them
            # apart means finding a second SOI at a data-dependent offset,
            # not a fixed-offset sniff; ffmpeg's probe has the same
            # ambiguity and calls both jpeg unless forced `-f mjpeg`).
            # No PNG/WAV/y4m payload starts with SOI, so the branch order
            # does not matter.
            F.substring(payload, 1, 3) == F.lit(b"\xff\xd8\xff"),
            F.lit("image/jpeg"),
        )
        .otherwise(F.lit("application/octet-stream"))
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            mime.alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lower(F.sha2(payload, 256)).alias("sha256"),
        ).alias("meta"),
    )


#: the (media_id, payload) shape every synthesizer emits
_PAYLOAD_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("payload", BinaryType())]
)

#: Spark type -> the nullable pandas dtype that carries pd.NA to a SQL NULL
#: through Arrow (a plain int column cannot hold a missing value, and a
#: plain float one turns it into NaN, not NULL); other types ship as objects
_NULLABLE_DTYPE = {IntegerType: "Int32", LongType: "Int64", DoubleType: "Float64"}


def _synthesize(df: DataFrame, id_col: str, text_col: str, render) -> DataFrame:
    """The one text → payload stage: project ``(id → media_id, text)``,
    run ``render(text) -> bytes`` per row, and map NULL text to a NULL
    payload, so one NULL row never fails an Arrow batch. Every
    ``synthesize_*_payloads`` fixture is this stage with its own render;
    a deployment replaces the fixture with the real binary source, and
    the decoders downstream are unchanged."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [None if t is None else render(t) for t in pdf["text"]],
                }
            )

    proj = df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(text_col).alias("text")
    )
    return proj.mapInPandas(run, schema=_PAYLOAD_SCHEMA)


def _map_payloads(media: DataFrame, fn, schema: StructType) -> DataFrame:
    """The one payload → row stage: ``fn(payload)`` returns the values of
    ``schema``'s columns after ``media_id``, once per non-NULL payload. A
    NULL payload is a missing asset, not a decode error: it gives an
    all-NULL row with the id kept. Each column is built in the nullable
    pandas dtype of its Spark type."""
    cols = [(f.name, _NULLABLE_DTYPE.get(type(f.dataType))) for f in schema.fields[1:]]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [None if p is None else fn(p) for p in pdf["payload"]]
            out = {"media_id": pdf["media_id"]}
            for i, (name, dtype) in enumerate(cols):
                vals = [None if r is None else r[i] for r in rows]
                out[name] = vals if dtype is None else pd.array(vals, dtype=dtype)
            yield pd.DataFrame(out)

    # mapInPandas ships EVERY input column to Python (opaque to column
    # pruning): project to the two columns run() reads, or the meta
    # struct (an sha2 per payload) is computed and Arrow-shipped for
    # nothing (guide: pass only what the function needs).
    return media.select("media_id", "payload").mapInPandas(run, schema=schema)


def _sample_frames(media: DataFrame, decode, schema: StructType) -> DataFrame:
    """The one payload → frames stage (a one-to-many explode):
    ``decode(payload)`` returns the sampled frames as uint8 arrays, and
    each frame emits one row of exact-integer mean and peak over its
    decoded samples, divided once so a SQL oracle replays the double bit
    for bit. When ``schema`` has ``motion_mean``, that column is the mean
    |frame(f) − frame(f−1)|, NULL for frame 0. A NULL payload is a missing
    asset and gives zero rows, as ``explode(NULL)`` does."""
    names = schema.fieldNames()
    motion = "motion_mean" in names

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    continue
                prev = None
                for i, fr in enumerate(decode(p)):
                    n = fr.size
                    row = [mid, i, float(int(fr.sum(dtype="int64"))) / n, int(fr.max())]
                    if motion:
                        cur = fr.astype(np.int32)
                        if prev is None:
                            row.append(None)
                        else:
                            diff = np.abs(cur - prev).sum(dtype="int64")
                            row.append(float(int(diff)) / n)
                        prev = cur
                    rows.append(row)
            out = pd.DataFrame(rows, columns=names)
            if motion:
                out["motion_mean"] = out["motion_mean"].astype("Float64")
            yield out

    # project before the opaque stage (see _map_payloads)
    return media.select("media_id", "payload").mapInPandas(run, schema=schema)


def _text_raster(text: str, width: int, max_frames: int):
    """The one text raster every image/video fixture draws: pixel i of
    frame f is ``(ord(text[i]) + f) % 256`` in rows of ``width``, the
    final row padded with ``f``; ``max(1, ceil(len / width))`` rows (a PNG
    needs height ≥ 1) and ``min(max_frames, rows)`` frames, each an
    (rows, width) uint8 array. Char-level ``ord`` with a non-negative
    modulo means Python and SQL agree on every codepoint, CJK and emoji
    included, so an oracle replays any frame's statistics from the text."""
    import numpy as np

    h = max(1, -(-len(text) // width))
    base = np.zeros(h * width, dtype=np.int64)
    base[: len(text)] = [ord(c) % 256 for c in text]
    return [
        ((base + f) % 256).astype(np.uint8).reshape(h, width)
        for f in range(min(max_frames, h))
    ]


#: ---- native PNG container codec (stdlib zlib/struct only) ----
#: PNG is the one raster format implementable honestly without PIL: the
#: container is chunked (length/tag/data/CRC32), pixels are zlib-deflated
#: scanlines, and the per-scanline filters are small integer recurrences.
#: The encoder writes filter 0 (None) throughout; the decoder implements
#: all five filters so foreign PNGs (PIL-, libpng-produced) decode too.
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type -> samples per pixel (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> color type


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _filter0_scanlines(a) -> bytes:
    """Serialize a (H, W, C) uint8 array as PNG scanlines with filter
    byte 0 prefixed to every line — shared by both encoders."""
    import numpy as np

    h = a.shape[0]
    return np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), a.reshape(h, -1)], axis=1
    ).tobytes()


def _png_encode(img) -> bytes:
    """Encode a (H, W) or (H, W, C) uint8 numpy array as a REAL PNG file:
    8-bit, color type from channel count (1→gray, 2→gray+alpha, 3→RGB,
    4→RGBA), filter 0 scanlines, one zlib-deflated IDAT. Any PNG reader
    (PIL, browsers, libpng) opens the output."""
    import struct
    import zlib

    import numpy as np

    a = np.ascontiguousarray(img, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    if h < 1 or w < 1 or ch not in _PNG_COLOR_TYPE:
        raise ValueError(f"unencodable image shape {a.shape}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLOR_TYPE[ch], 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(_filter0_scanlines(a), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_decode(payload: bytes):
    """Decode a PNG payload to ``(width, height, channels, pixels)`` with
    ``pixels`` a (H, W*C) uint8 numpy array — the STILL-image view. For an
    Animated PNG payload this is frame 0, which is exactly the APNG spec's
    fallback for still readers. Implemented as the one-frame view of
    `_apng_decode`, so the container-parsing invariants (signature, CRC,
    truncation and chunk-length guards, sequence counter, inflate bomb
    cap) live in ONE place. Malformed payloads raise ``ValueError``
    (fail-fast, like the WAV path)."""
    w, h, ch, frames = _apng_decode(payload)
    return w, h, ch, frames[0]


def _png_unfilter(raw: bytes, w: int, h: int, ch: int):
    """Reconstruct (H, W*C) uint8 pixels from an inflated scanline stream
    (each line: 1 filter byte + W*C filtered samples) — RFC 2083 filter
    types 0–4 including Paeth. Shared by the still-PNG and APNG paths."""
    import numpy as np

    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel data length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    filters, lines = rows[:, 0], rows[:, 1:]
    if not filters.any():
        return lines.copy()  # all filter 0: the encoder's own fast path
    out = np.zeros((h, stride), dtype=np.uint8)
    up = np.zeros(stride, dtype=np.int32)  # previous reconstructed row
    for y in range(h):
        ft = int(filters[y])
        cur = lines[y].astype(np.int32)
        if ft == 0:
            rec = cur
        elif ft == 2:  # Up: whole-row vector add
            rec = (cur + up) & 0xFF
        elif ft == 1:  # Sub: rec[i] = cur[i] + rec[i-ch] is a per-channel
            # prefix sum, and mod-256 distributes over addition — one
            # int64 cumsum per channel lane replaces the per-pixel loop
            # (libpng/PIL output leans on Sub heavily, so a per-pixel
            # interpreted loop here would dominate foreign-PNG decode).
            rec = np.cumsum(cur.reshape(-1, ch), axis=0, dtype=np.int64).ravel() & 0xFF
        elif ft in (3, 4):  # Average / Paeth: the predictor mixes the left
            # NEIGHBOR'S RECONSTRUCTION with floor-div / branchy selection,
            # so the left recurrence doesn't reduce to a prefix sum —
            # per-pixel Python is the honest cost here (documented
            # boundary; real decode farms hand this to libpng).
            rec = np.zeros(stride, np.int32)
            for i in range(stride):
                left = rec[i - ch] if i >= ch else 0
                if ft == 3:
                    rec[i] = (cur[i] + (left + up[i]) // 2) & 0xFF
                else:
                    ul = int(up[i - ch]) if i >= ch else 0
                    p = left + up[i] - ul
                    pa, pb, pc = abs(p - left), abs(p - up[i]), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up[i] if pb <= pc else ul)
                    rec[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"PNG scanline filter {ft} invalid")
        out[y] = rec
        up = out[y].astype(np.int32)
    return out


def _apng_encode(frames, delay=(1, 10)) -> bytes:
    """Encode a list of same-shape (H, W) or (H, W, C) uint8 arrays as a
    REAL Animated PNG (the public APNG extension: acTL frame-count chunk,
    one fcTL per frame, frame 0 in IDAT, later frames in fdAT chunks with
    a shared sequence counter). Browsers and PIL play the output; a plain
    PNG reader shows frame 0 — exactly the spec's fallback behavior."""
    import struct
    import zlib

    import numpy as np

    if not frames:
        raise ValueError("APNG needs at least one frame")
    norm = []
    for fr in frames:
        a = np.ascontiguousarray(fr, dtype=np.uint8)
        if a.ndim == 2:
            a = a[:, :, None]
        norm.append(a)
    h, w, ch = norm[0].shape
    if any(a.shape != (h, w, ch) for a in norm) or ch not in _PNG_COLOR_TYPE:
        raise ValueError("APNG frames must share one supported shape")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLOR_TYPE[ch], 0, 0, 0)
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    out += _png_chunk(b"acTL", struct.pack(">II", len(norm), 0))  # loop forever
    seq = 0
    for idx, a in enumerate(norm):
        fctl = struct.pack(
            ">IIIIIHHBB", seq, w, h, 0, 0, delay[0], delay[1], 0, 0
        )  # full-frame, no offset, dispose NONE, blend SOURCE
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        data = zlib.compress(_filter0_scanlines(a), 6)
        if idx == 0:
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    return out + _png_chunk(b"IEND", b"")


def _apng_decode(payload: bytes):
    """Decode an APNG payload to ``(width, height, channels, [frames])``,
    each frame a (H, W*C) uint8 array. A plain PNG (no acTL) decodes as a
    one-frame animation — the spec's compatibility story. This is THE
    container walk (``_png_decode`` is its one-frame view). Honest subset,
    enforced loudly: full-size frames at offset (0,0) with dispose NONE /
    blend SOURCE (what the encoder emits); per-chunk CRCs verified;
    animation chunk LENGTHS validated before unpack (a short-but-CRC-valid
    acTL/fcTL/fdAT raises ValueError, not struct.error — the dead-letter
    try/except contract); the fcTL/fdAT shared sequence counter checked
    for gaps; and the inflate capped at the IHDR-implied pixel size, so a
    decompression-bomb payload raises instead of materializing GBs.

    Spec-valid APNGs whose DEFAULT IMAGE is not part of the animation
    (acTL present, IDAT with no preceding fcTL) decode to the animation
    frames only, per the spec's "default image is for still readers"
    story — the IDAT is parsed (CRC, truncation) and skipped, not
    counted as a frame against acTL."""
    import struct
    import zlib

    if len(payload) < 8 or bytes(payload[:8]) != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, n_frames = 8, None, None
    anim: list[list[bytes]] = []  # fcTL-opened frames' compressed pieces
    default_pieces: list[bytes] = []  # IDAT with no preceding fcTL
    fdat_seen = False
    expect_seq = 0
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = bytes(payload[pos + 4 : pos + 8])
        data = bytes(payload[pos + 8 : pos + 8 + ln])
        if len(data) != ln or pos + 12 + ln > len(payload):
            raise ValueError(f"truncated PNG chunk {tag!r}")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if crc != (zlib.crc32(tag + data) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if len(data) != 13:
                raise ValueError(f"PNG IHDR must be 13 bytes, got {len(data)}")
            ihdr = data
        elif tag == b"acTL":
            if len(data) != 8:
                raise ValueError(f"APNG acTL must be 8 bytes, got {len(data)}")
            (n_frames, _plays) = struct.unpack(">II", data)
        elif tag == b"fcTL":
            if len(data) != 26:
                raise ValueError(f"APNG fcTL must be 26 bytes, got {len(data)}")
            seq, fw, fh, fx, fy = struct.unpack_from(">IIIII", data)
            if seq != expect_seq:
                raise ValueError(f"APNG sequence gap: fcTL {seq} != {expect_seq}")
            expect_seq += 1
            if ihdr is None:
                raise ValueError("APNG fcTL before IHDR")
            iw, ih = struct.unpack_from(">II", ihdr)
            if (fw, fh, fx, fy) != (iw, ih, 0, 0):
                raise ValueError(
                    "decoder handles full-size frames at offset (0,0), got "
                    f"{fw}x{fh}+{fx}+{fy}"
                )
            anim.append([])
        elif tag == b"IDAT":
            if fdat_seen:
                raise ValueError("APNG IDAT after fdAT frames")
            if len(anim) > 1:
                raise ValueError("APNG IDAT after a non-first fcTL")
            # fcTL before IDAT → the IDAT is animation frame 0; otherwise
            # it's the default image (plain PNG, or APNG keeping its
            # default image out of the animation).
            (anim[0] if anim else default_pieces).append(data)
        elif tag == b"fdAT":
            if len(data) < 4:
                raise ValueError("APNG fdAT shorter than its sequence number")
            (seq,) = struct.unpack_from(">I", data)
            if seq != expect_seq:
                raise ValueError(f"APNG sequence gap: fdAT {seq} != {expect_seq}")
            expect_seq += 1
            if not anim:
                raise ValueError("APNG fdAT before its fcTL")
            fdat_seen = True
            anim[-1].append(data[4:])
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or ctype not in _PNG_CHANNELS or comp or filt or inter:
        raise ValueError(
            f"decoder handles 8-bit non-interlaced color types 0/2/4/6, got "
            f"depth={depth} color={ctype} interlace={inter}"
        )
    ch = _PNG_CHANNELS[ctype]
    if n_frames is None:
        if anim:
            raise ValueError("APNG fcTL without acTL")
        frames = [default_pieces]  # plain PNG: IDAT is the only frame
    else:
        if n_frames != len(anim):
            raise ValueError(f"acTL declares {n_frames} frames, found {len(anim)}")
        # a default image outside the animation (IDAT, no fcTL first) is
        # parsed for integrity above but not a frame — skip it.
        frames = anim
    if not frames or not frames[0]:
        raise ValueError("PNG missing pixel data")
    expected = h * (1 + w * ch)
    decoded = []
    for pieces in frames:
        # bomb guard: cap the inflate at the IHDR-implied scanline size +1.
        # One extra byte of output (or leftover compressed input) proves
        # the payload lies about its geometry — raise BEFORE materializing
        # whatever a crafted stream would expand to.
        d = zlib.decompressobj()
        try:
            raw = d.decompress(b"".join(pieces), expected + 1)
        except zlib.error as e:
            raise ValueError(f"PNG frame inflate failed: {e}") from e
        if len(raw) != expected or d.unconsumed_tail:
            raise ValueError("PNG pixel data length mismatch")
        decoded.append(_png_unfilter(raw, w, h, ch))
    return w, h, ch, decoded


def synthesize_png_payloads(
    df: DataFrame, id_col: str, text_col: str, width: int = 16
) -> DataFrame:
    """Fixture synthesis: render a text column into REAL 8-bit grayscale
    PNG files (`_png_encode`), one pixel per char: frame 0 of
    `_text_raster` in rows of ``width``, zero-padded to a full final row;
    empty text renders one all-zero row. This stage exists because the
    repository ships no image assets; ``extract_image_features``, the real
    decoder, reads it as it would read any PNG source."""
    return _synthesize(
        df, id_col, text_col, lambda t: _png_encode(_text_raster(t, width, 1)[0])
    )


def extract_image_features(media: DataFrame) -> DataFrame:
    """REAL image decode + feature extraction over Arrow batches: each
    payload is parsed as an actual image container, dispatched on its
    magic bytes the way a mixed-corpus ingest must — baseline JPEG
    (`_jpeg_decode`: Huffman + dequantize + IDCT) or PNG (`_png_decode`:
    CRC-verified chunks, inflated IDAT, unfiltered scanlines). Features
    are the true width/height from the header, the channel (JPEG:
    component) count, and the mean intensity as one exact integer sum
    over every decoded sample divided once (for JPEG, every sample of
    every component plane at its own resolution) — bit-reproducible for a
    SQL oracle. A NULL payload gives a NULL-feature row with the id kept;
    a malformed or unrecognized payload raises ``ValueError`` (fail-fast;
    wrap in try/except + dead-letter routing for quarantine semantics at
    ingest scale)."""

    def feats(payload):
        b = bytes(payload)
        if b[:3] == b"\xff\xd8\xff":
            w, h, planes = _jpeg_decode(b)
            tot = sum(int(pl.sum(dtype="int64")) for pl in planes)
            cnt = sum(pl.size for pl in planes)
            return w, h, len(planes), float(tot) / cnt
        w, h, ch, px = _png_decode(b)
        return w, h, ch, float(int(px.sum(dtype="int64"))) / (w * h * ch)

    return _map_payloads(media, feats, IMAGE_FEATURES_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize stage: decode PNG → nearest-neighbor resample to
    (width, height) per channel → re-encode PNG. Binary in, binary out,
    dimensions recomputed. A NULL payload gives a row whose payload,
    width and height are all NULL (a missing asset is not a decode
    error); a malformed one raises, like the decoder."""

    def resample(p):
        import numpy as np

        w0, h0, ch, px = _png_decode(p)
        img = px.reshape(h0, w0, ch)
        yi = (np.arange(height) * h0) // height
        xi = (np.arange(width) * w0) // width
        return _png_encode(img[yi][:, xi]), width, height

    return _map_payloads(media, resample, RESIZE_SCHEMA)


def synthesize_wav_payloads(
    df: DataFrame, id_col: str, text_col: str, sample_rate: int = 16_000
) -> DataFrame:
    """Fixture synthesis: render a text column into REAL 16-bit mono PCM
    WAV files (stdlib ``wave``). Sample i is
    ``((ord(text[i]) + 96) % 128 - 64) * 256`` — a genuine signed waveform
    whose amplitude/zero-crossing statistics a SQL oracle can recompute
    from the text. The modulo fold keeps EVERY codepoint inside int16 (an
    unfolded ``(ord - 96) * 256`` wraps numpy int16 on CJK text) while
    reducing to exactly ``(ord - 96) * 256`` on printable ASCII. The
    dividend is non-negative, so Python's and SQL's ``%`` agree. This
    stage exists because the repository ships no audio assets;
    ``extract_audio_features``, the real decoder, reads it as it would
    read any WAV source."""

    def render(text: str) -> bytes:
        import io
        import wave

        import numpy as np

        pcm = np.array([((ord(c) + 96) % 128 - 64) * 256 for c in text], dtype="<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sample_rate)
            w.writeframes(pcm.tobytes())
        return buf.getvalue()

    return _synthesize(df, id_col, text_col, render)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode: parses each payload as a WAV container with
    stdlib ``wave``, reads the PCM frames, and computes genuine signal
    features — duration from the header's frame count and rate, mean
    absolute amplitude, peak, and zero crossings from the int16 samples
    (the mean divides an exact integer sum once, so it is
    bit-reproducible for an oracle).

    A NULL payload gives a NULL-feature row with the id kept. Malformed
    (non-NULL) payloads fail the task fast: a non-RIFF or wrong-format
    payload, or a frame rate of 0, raises ``wave.Error``; an EMPTY or
    truncated payload raises ``EOFError`` from the stdlib chunk parser.
    Fail-fast is the right default for a decode stage; an ingest wanting
    quarantine instead wraps the decode in try/except and routes failures
    to a dead-letter column, same mapInPandas shape."""

    def feats(payload: bytes):
        import io
        import wave

        import numpy as np

        with wave.open(io.BytesIO(payload), "rb") as w:
            rate = w.getframerate()
            n_frames = w.getnframes()
            if w.getsampwidth() != 2 or w.getnchannels() != 1:
                # explicit raise, NOT assert: asserts are stripped under
                # python -O, and a stereo/8-bit WAV frombuffer'd as
                # 16-bit mono would yield silently wrong statistics
                raise wave.Error(
                    "decoder handles 16-bit mono PCM, got "
                    f"sampwidth={w.getsampwidth()} "
                    f"channels={w.getnchannels()}"
                )
            if rate < 1:
                # the stdlib reader accepts a zero rate; the duration
                # below divides by it
                raise wave.Error(f"WAV frame rate must be positive, got {rate}")
            x = np.frombuffer(w.readframes(n_frames), dtype="<i2").astype(np.int64)
        n = len(x)
        ax = np.abs(x)
        return (
            len(payload),
            rate,
            n,
            n * 1000 // rate,
            float(ax.sum()) / n if n else 0.0,
            int(ax.max()) if n else 0,
            int(((x[1:] * x[:-1]) < 0).sum()) if n > 1 else 0,
        )

    return _map_payloads(media, feats, AUDIO_FEATURES_SCHEMA)


def synthesize_apng_payloads(
    df: DataFrame, id_col: str, text_col: str, width: int = 16, max_frames: int = 8
) -> DataFrame:
    """Fixture synthesis: render a text column into REAL Animated PNG
    files (`_apng_encode`), one frame per `_text_raster` frame: frame f is
    the still-image raster brightness-shifted by f, so every frame differs
    and a SQL oracle can replay any frame's statistics from the text.
    `sample_frames`, the real container parser, reads it as it would read
    any APNG source."""
    return _synthesize(
        df, id_col, text_col, lambda t: _apng_encode(_text_raster(t, width, max_frames))
    )


def sample_frames(media: DataFrame, max_frames: int = 8) -> DataFrame:
    """Frame sampling as a one-to-many mapInPandas (UDTF shape): each
    payload is decoded as an Animated PNG (`_apng_decode`: CRC-verified
    acTL/fcTL/fdAT chunks, per-frame inflate + unfilter; a plain PNG is a
    one-frame animation) and up to ``max_frames`` frames emit one row each
    with statistics from the DECODED pixels (see `_sample_frames`). A NULL
    payload yields ZERO rows; malformed payloads raise ``ValueError``."""
    return _sample_frames(
        media, lambda p: _apng_decode(p)[3][:max_frames], FRAME_SAMPLE_SCHEMA
    )


def embed_payloads(media: DataFrame, dim: int = 8) -> DataFrame:
    """Payload → embedding vector (the feature-extract step of a multimodal
    training pipeline): each payload is decoded as a PNG (`_png_decode`)
    and the embedding is the normalized ``dim``-bin intensity histogram of
    the decoded pixels (bin width 256/dim; exact integer counts, one
    double division per component — bit-reproducible for a SQL oracle). A
    classic pre-neural image descriptor: near-duplicate rasters land near
    each other in cosine space, so the similarity operators compose
    meaningfully. NULL payloads map to NULL embeddings; malformed ones
    raise, like the decoder. In a deployment the histogram is swapped for
    a model forward pass — same mapInPandas shape, same output column type
    as the embeddings table."""
    if 256 % dim:
        raise ValueError(f"dim must divide 256, got {dim}")
    bin_width = 256 // dim

    def emb(p):
        import numpy as np

        w, h, ch, px = _png_decode(p)
        counts = np.bincount(px.reshape(-1) // bin_width, minlength=dim)
        return ([float(int(c)) / (w * h * ch) for c in counts],)

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    return _map_payloads(media, emb, schema)


#: ---- native YUV4MPEG2 (y4m) video container codec ----
#: y4m is the one VIDEO container implementable honestly without ffmpeg:
#: a text header line ("YUV4MPEG2 W.. H.. F.. C..\n"), then per frame a
#: "FRAME\n" marker followed by RAW planar pixel data — the uncompressed
#: interchange format ffmpeg/mpv/x264 all read and write
#: (`ffmpeg -i out.y4m` opens this encoder's output). No entropy coding,
#: so the decode is an exact plane walk.
_Y4M_MAGIC = b"YUV4MPEG2"
#: colorspace tag prefix -> (chroma plane count, subsample divisor):
#: mono = luma only; 420 family = 2 chroma planes at (W/2)x(H/2);
#: 444 = 2 chroma planes at full size. 422 et al. raise loudly.
_Y4M_CHROMA = {"mono": (0, 1), "420": (2, 2), "444": (2, 1)}


def _y4m_encode(frames, fps=(25, 1)) -> bytes:
    """Encode a list of same-shape (H, W) uint8 luma arrays as a REAL
    monochrome YUV4MPEG2 stream (header + FRAME-delimited raw planes).
    Any y4m reader (ffmpeg, mpv, mjpegtools) plays the output."""
    import numpy as np

    if not frames:
        raise ValueError("y4m needs at least one frame")
    norm = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w = norm[0].shape
    if h < 1 or w < 1 or any(a.shape != (h, w) for a in norm):
        raise ValueError("y4m frames must share one positive (H, W) shape")
    head = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 Cmono\n".encode()
    return head + b"".join(b"FRAME\n" + a.tobytes() for a in norm)


def _y4m_decode(payload: bytes):
    """Decode a y4m payload to ``(width, height, colorspace, [lumas])``,
    each luma a (H, W) uint8 array. Honest subset, enforced loudly:
    Cmono / C420-family / C444 colorspaces (chroma planes are walked and
    length-validated but statistics come from luma, the standard choice);
    8-bit only (a ``p10``/``p12`` depth suffix raises). y4m has no CRCs —
    the integrity guards are structural: magic + mandatory W/H tags,
    exact per-frame plane lengths (a truncated final frame raises, as do
    trailing bytes that are not a FRAME marker), and FRAME-marker
    parameter lines are tolerated per spec but a missing newline raises.
    Malformed payloads raise ``ValueError`` — the module's fail-fast
    decode contract (wrap in try/except + dead-letter for quarantine)."""
    import numpy as np

    payload = bytes(payload)
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(_Y4M_MAGIC + b" "):
        raise ValueError("not a y4m stream: bad signature line")
    w = h = None
    cspace = "420jpeg"  # spec default when no C tag is present
    for tok in payload[len(_Y4M_MAGIC) + 1 : nl].decode("ascii", "replace").split():
        tag, val = tok[0], tok[1:]
        try:
            if tag == "W":
                w = int(val)
            elif tag == "H":
                h = int(val)
            elif tag == "C":
                cspace = val
        except ValueError as e:
            raise ValueError(f"y4m header tag {tok!r} malformed") from e
    if not w or not h or w < 1 or h < 1:
        raise ValueError("y4m header missing positive W/H tags")
    family = next((k for k in _Y4M_CHROMA if cspace.startswith(k)), None)
    if family is None or "p1" in cspace:  # 422/411/interlaced-chroma/10-bit…
        raise ValueError(
            f"decoder handles Cmono/C420*/C444 8-bit colorspaces, got C{cspace}"
        )
    n_chroma, div = _Y4M_CHROMA[family]
    if div > 1 and (w % div or h % div):
        raise ValueError(f"C{cspace} needs W and H divisible by {div}: {w}x{h}")
    luma_len = w * h
    frame_len = luma_len + n_chroma * (w // div) * (h // div)
    lumas, pos = [], nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"y4m frame {len(lumas)}: missing FRAME marker")
        fnl = payload.find(b"\n", pos + 5)
        if fnl < 0:
            raise ValueError(f"y4m frame {len(lumas)}: unterminated FRAME line")
        pos = fnl + 1
        if pos + frame_len > len(payload):
            raise ValueError(f"y4m frame {len(lumas)}: truncated plane data")
        lumas.append(
            np.frombuffer(payload, np.uint8, luma_len, pos).reshape(h, w)
        )
        pos += frame_len
    if not lumas:
        raise ValueError("y4m stream has no frames")
    return w, h, cspace, lumas


def synthesize_y4m_payloads(
    df: DataFrame, id_col: str, text_col: str, width: int = 16, max_frames: int = 8
) -> DataFrame:
    """Fixture synthesis: render a text column into REAL monochrome y4m
    video streams (`_y4m_encode`), one luma plane per `_text_raster`
    frame — the APNG fixture's raster, so one oracle grammar covers both
    containers. `sample_video_frames`, the real container parser, reads it
    as it would read any camera or transcode source."""
    return _synthesize(
        df, id_col, text_col, lambda t: _y4m_encode(_text_raster(t, width, max_frames))
    )


def sample_video_frames(media: DataFrame, max_frames: int = 8) -> DataFrame:
    """Video frame sampling + motion analysis as a one-to-many mapInPandas:
    each payload is decoded as a YUV4MPEG2 stream (`_y4m_decode`: header
    grammar, per-frame plane walk, truncation guards) and up to
    ``max_frames`` frames emit one row each with statistics from the
    DECODED luma plane, plus ``motion_mean``, the temporal-difference
    signal scene-cut detection and keyframe selection are built on (see
    `_sample_frames`). A NULL payload yields ZERO rows; malformed payloads
    raise ``ValueError``."""
    return _sample_frames(
        media, lambda p: _y4m_decode(p)[3][:max_frames], VIDEO_FRAME_SCHEMA
    )


#: ---- native baseline JPEG (ITU-T T.81) codec + raw MJPEG stream ----
#: Baseline sequential DCT JPEG is stdlib+numpy-feasible (Huffman entropy
#: coding, 8x8 DCT, quantization — no external codec needed), and a raw
#: MJPEG video stream is nothing but back-to-back baseline JPEGs (what
#: `ffmpeg -f mjpeg -i -` demuxes). The ENCODER writes single-component
#: (grayscale) SOF0 frames with the Annex K luminance Huffman tables and
#: the Annex K quantization matrix with the DC step pinned to 1 (legal —
#: DQT admits any step in 1..255) so a block-constant raster survives the
#: round trip EXACTLY: a flat 8x8 block quantizes to a DC-only spectrum
#: (AC ~1e-12 rounds to 0, DC = 8*(v-128) is an integer and the step-1
#: quantizer keeps every bit), which is what puts genuinely
#: Huffman-coded, genuinely IDCT-decoded pixels under the value-hash
#: oracle gate. The DECODER is full baseline: multi-table DQT (8- and
#: 16-bit) / DHT segments, generic interleaved-MCU scans with arbitrary
#: per-component sampling factors (grayscale, 4:4:4, 4:2:0, 4:2:2 all
#: fall out), DRI/RSTn restart handling, byte-unstuffing, spectrum
#: dequantize + IDCT + level shift. Progressive (SOF2), arithmetic
#: coding, hierarchical and 12-bit frames raise ValueError loudly —
#: honest subset, same contract as the PNG/y4m decoders. H.264/VP9
#: remain the one documented ffmpeg boundary (inter-frame prediction is
#: not a weekend of stdlib).
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)
#: Annex K luminance quantization matrix (natural order), DC step -> 1.
_JPEG_QT = (
    1, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
#: Annex K "typical" luminance Huffman specs: (code-length counts for
#: lengths 1..16, symbol values in code order).
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)
#: decode bomb guard: refuse frames whose pixel count implies plane
#: buffers past ~64 MPix per component (structural cap, same spirit as
#: the PNG inflate cap — a hostile SOF0 can claim 65535x65535).
_JPEG_MAX_PIXELS = 1 << 26


def _jpeg_huff_codes(bits, vals):
    """Canonical Huffman code assignment (T.81 C.2): symbol -> (code, length)."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    """MSB-first bit accumulator with T.81 byte stuffing (0xFF -> 0xFF 0x00)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1-bits
        return bytes(self.buf)


def _jpeg_qblocks(plane, mcu_h: int = 8, mcu_w: int = 8):
    """Pad a uint8 plane by edge replication to a multiple of the MCU
    footprint, DCT all 8x8 blocks at once (vectorized einsum), quantize
    with `_JPEG_QT`, and return the zigzagged int coefficients as a
    (block_rows, block_cols, 64) array."""
    import numpy as np

    a = np.asarray(plane, dtype=np.uint8)
    ph, pw = -a.shape[0] % mcu_h, -a.shape[1] % mcu_w
    if ph or pw:
        a = np.pad(a, ((0, ph), (0, pw)), mode="edge")
    bh, bw = a.shape[0] // 8, a.shape[1] // 8
    blocks = (
        a.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    ).astype(np.float64) - 128.0
    k = np.arange(8.0)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) * 0.5
    c[0, :] = 0.5 / np.sqrt(2.0)
    coef = np.einsum("ij,njk,lk->nil", c, blocks, c)
    q = np.asarray(_JPEG_QT, dtype=np.float64).reshape(8, 8)
    zz = np.rint(coef / q).astype(np.int64).reshape(-1, 64)[:, list(_JPEG_ZIGZAG)]
    return zz.reshape(bh, bw, 64)


def _jpeg_emit_block(out: _JpegBitWriter, blk, pred: int, dc_codes, ac_codes) -> int:
    """Huffman-encode one zigzagged quantized block (differential DC +
    run-length AC with ZRL/EOB); returns the new DC predictor."""
    dc = int(blk[0])
    diff = dc - pred
    size = abs(diff).bit_length()
    code, ln = dc_codes[size]
    out.put(code, ln)
    if size:
        out.put(diff if diff > 0 else diff + (1 << size) - 1, size)
    run = 0
    for kk in range(1, 64):
        v = int(blk[kk])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            out.put(code, ln)
            run -= 16
        size = abs(v).bit_length()
        if size > 10:
            raise ValueError("AC coefficient out of baseline range")
        code, ln = ac_codes[(run << 4) | size]
        out.put(code, ln)
        out.put(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        out.put(code, ln)
    return dc


def _jpeg_frame(h: int, w: int, comps, entropy: bytes) -> bytes:
    """Assemble SOI..EOI around an entropy-coded scan. ``comps`` is a list
    of (component_id, Hi, Vi); all components share quant table 0 and
    Huffman tables 0/0 (legal — table assignment is per-component and
    nothing requires distinct chroma tables)."""
    import struct

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    qt_zz = bytes(_JPEG_QT[i] for i in _JPEG_ZIGZAG)
    sof = struct.pack(">BHHB", 8, h, w, len(comps)) + b"".join(
        bytes((cid, (hi << 4) | vi, 0)) for cid, hi, vi in comps
    )
    sos = bytes((len(comps),)) + b"".join(
        bytes((cid, 0x00)) for cid, _, _ in comps
    ) + b"\x00\x3f\x00"
    return b"".join(
        [
            b"\xff\xd8",  # SOI
            seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
            seg(0xDB, b"\x00" + qt_zz),  # DQT: Pq=0 Tq=0
            seg(0xC0, sof),  # SOF0
            seg(0xC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)),
            seg(0xC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)),
            seg(0xDA, sos),
            entropy,
            b"\xff\xd9",  # EOI
        ]
    )


def _jpeg_encode(img) -> bytes:
    """Encode an (H, W) uint8 grayscale raster as a REAL baseline JFIF
    JPEG: level shift, 8x8 orthonormal DCT (vectorized einsum over all
    blocks), Annex-K quantization with DC step 1, zigzag, differential-DC
    + run-length-AC Huffman coding with the Annex K luminance tables,
    byte-stuffed entropy stream, SOI/APP0/DQT/SOF0/DHT/SOS/EOI framing.
    Edges pad by replication (the usual encoder choice). Any baseline
    JPEG reader decodes the output."""
    import numpy as np

    a = np.asarray(img, dtype=np.uint8)
    if a.ndim != 2 or a.shape[0] < 1 or a.shape[1] < 1:
        raise ValueError("JPEG encoder takes one (H, W) uint8 luma plane")
    h, w = a.shape
    zz = _jpeg_qblocks(a)
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    out = _JpegBitWriter()
    pred = 0
    for blk in zz.reshape(-1, 64):
        pred = _jpeg_emit_block(out, blk, pred, dc_codes, ac_codes)
    return _jpeg_frame(h, w, [(1, 1, 1)], out.flush())


def _jpeg_encode_color(ycbcr, subsample: str = "420") -> bytes:
    """Encode an (H, W, 3) uint8 YCbCr raster as a 3-component baseline
    JFIF JPEG — the INTERLEAVED-MCU form real camera output takes.
    ``"420"`` downsamples chroma 2x2 (box average, Y at Hi=Vi=2, MCUs of
    four Y blocks + one Cb + one Cr); ``"444"`` keeps full-resolution
    chroma (three blocks per MCU). Input is YCbCr directly: the RGB
    transform is a separate well-defined stage (JFIF Rec. 601) and
    keeping it out of the codec keeps the codec exactly testable. Exists
    chiefly so the decoder's generic interleave/subsampling path is
    exercised by a real encoder rather than trusted on faith."""
    import numpy as np

    a = np.asarray(ycbcr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3 or a.shape[0] < 1 or a.shape[1] < 1:
        raise ValueError("color JPEG encoder takes (H, W, 3) uint8 YCbCr")
    if subsample not in ("420", "444"):
        raise ValueError("subsample must be '420' or '444'")
    h, w = a.shape[:2]
    y = a[:, :, 0]
    if subsample == "420":
        # pad to even dims, then 2x2 box-average each chroma plane
        ev = np.pad(a, ((0, h % 2), (0, w % 2), (0, 0)), mode="edge").astype(
            np.uint16
        )
        eh, ew = ev.shape[:2]
        cb, cr = (
            (
                ev[0::2, 0::2, ch]
                + ev[0::2, 1::2, ch]
                + ev[1::2, 0::2, ch]
                + ev[1::2, 1::2, ch]
                + 2
            )
            // 4
            for ch in (1, 2)
        )
        comps = [(1, 2, 2), (2, 1, 1), (3, 1, 1)]
        planes = [
            _jpeg_qblocks(y, 16, 16),
            _jpeg_qblocks(cb.astype(np.uint8)),
            _jpeg_qblocks(cr.astype(np.uint8)),
        ]
    else:
        comps = [(1, 1, 1), (2, 1, 1), (3, 1, 1)]
        planes = [_jpeg_qblocks(a[:, :, ch]) for ch in range(3)]

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    out = _JpegBitWriter()
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcuy, mcux = -(-h // (8 * vmax)), -(-w // (8 * hmax))
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for si, (_, hi, vi) in enumerate(comps):
                for by in range(vi):
                    for bx in range(hi):
                        blk = planes[si][my * vi + by, mx * hi + bx]
                        preds[si] = _jpeg_emit_block(
                            out, blk, preds[si], dc_codes, ac_codes
                        )
    return _jpeg_frame(h, w, comps, out.flush())


class _JpegBitReader:
    """MSB-first bit reader over the entropy segment: unstuffs 0xFF 0x00,
    surfaces RSTn markers to the MCU loop, stops at any other marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("JPEG entropy data truncated")
        b = d[p]
        if b == 0xFF:
            if p + 1 >= len(d):
                raise ValueError("JPEG entropy data truncated at 0xFF")
            if d[p + 1] == 0x00:
                self.pos = p + 2  # stuffed literal 0xFF
            else:
                # any real marker ends the entropy run for this reader;
                # the scan loop decides whether it was expected (RSTn at a
                # restart boundary, EOI after the last MCU).
                raise ValueError("JPEG entropy data ran into a marker")
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bits(self, n: int) -> int:
        while self.n < n:
            self._fill()
        self.n -= n
        v = (self.acc >> self.n) & ((1 << n) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def huff(self, table) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | self.bits(1)
            length += 1
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("invalid JPEG Huffman code")

    def align(self) -> None:
        self.acc = 0
        self.n = 0

    def at_marker(self, *markers: int) -> bool:
        d, p = self.data, self.pos
        return p + 1 < len(d) and d[p] == 0xFF and d[p + 1] in markers


def _jpeg_extend(v: int, size: int) -> int:
    return v - (1 << size) + 1 if v < (1 << (size - 1)) else v


def _jpeg_decode_at(payload: bytes, pos: int = 0):
    """Decode ONE baseline JPEG starting at ``pos`` in ``payload``;
    returns ``(width, height, [component planes], end_pos)`` with each
    plane an (h_i, w_i) uint8 array at the component's own resolution
    (luma first — for every legal sampling layout the first component
    carries the max factors, so its plane is full (H, W)). Full baseline
    feature set: multi-table DQT/DHT, 16-bit quantizers, interleaved
    MCUs with arbitrary Hi/Vi, DRI/RSTn. Progressive/arithmetic/12-bit/
    hierarchical raise ValueError, as does any structural damage
    (truncation, bad lengths, codes past 16 bits, coefficient overrun,
    trailing garbage where a marker should be) — fail-fast contract
    shared by the module's other decoders."""
    import numpy as np

    d = bytes(payload)
    n = len(d)
    if d[pos : pos + 2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos += 2
    qtables: dict[int, "np.ndarray"] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None  # (h, w, [(cid, hi, vi, tq)])
    restart_interval = 0
    planes = None

    k = np.arange(8.0)
    cm = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) * 0.5
    cm[0, :] = 0.5 / np.sqrt(2.0)

    while True:
        if pos + 1 >= n:
            raise ValueError("JPEG truncated: no EOI")
        if d[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        while pos < n and d[pos] == 0xFF and pos + 1 < n and d[pos + 1] == 0xFF:
            pos += 1  # fill bytes
        marker = d[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if planes is None:
                raise ValueError("JPEG ended before any scan")
            h, w, comps = frame
            return w, h, planes, pos
        if marker in (0xC1,):
            marker = 0xC0  # extended sequential decodes identically
        if marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential JPEG is supported")
        if pos + 2 > n:
            raise ValueError("JPEG segment header truncated")
        seglen = (d[pos] << 8) | d[pos + 1]
        if seglen < 2 or pos + seglen > n:
            raise ValueError("JPEG segment length out of bounds")
        body = d[pos + 2 : pos + seglen]
        pos += seglen

        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                i += 1
                if pq not in (0, 1):
                    raise ValueError("DQT precision must be 0 or 1")
                step = 2 if pq else 1
                if i + 64 * step > len(body):
                    raise ValueError("DQT table truncated")
                raw = (
                    np.frombuffer(body, ">u2", 64, i)
                    if pq
                    else np.frombuffer(body, np.uint8, 64, i)
                ).astype(np.float64)
                nat = np.empty(64)
                nat[list(_JPEG_ZIGZAG)] = raw
                qtables[tq] = nat.reshape(8, 8)
                i += 64 * step
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                i += 1
                if i + 16 > len(body):
                    raise ValueError("DHT counts truncated")
                bits = body[i : i + 16]
                i += 16
                total = sum(bits)
                if i + total > len(body):
                    raise ValueError("DHT values truncated")
                vals = body[i : i + total]
                i += total
                codes = _jpeg_huff_codes(bits, vals)
                htables[(tc, th)] = {
                    (ln, code): sym for sym, (code, ln) in codes.items()
                }
        elif marker == 0xC0:  # SOF0/1
            if len(body) < 6:
                raise ValueError("SOF segment truncated")
            prec, fh, fw, nc = body[0], (body[1] << 8) | body[2], (body[3] << 8) | body[4], body[5]
            if len(body) < 6 + 3 * nc:
                raise ValueError("SOF component list truncated")
            if prec != 8:
                raise ValueError("only 8-bit JPEG is supported")
            if fh < 1 or fw < 1 or fh * fw > _JPEG_MAX_PIXELS:
                raise ValueError(f"JPEG dimensions {fw}x{fh} outside guard")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci], body[7 + 3 * ci], body[8 + 3 * ci]
                hi, vi = hv >> 4, hv & 0xF
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError("bad sampling factors")
                comps.append((cid, hi, vi, tq))
            frame = (fh, fw, comps)
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("DRI segment truncated")
            restart_interval = (body[0] << 8) | body[1]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            fh, fw, comps = frame
            if len(body) < 1:
                raise ValueError("SOS segment truncated")
            ns = body[0]
            if len(body) < 1 + 2 * ns:
                raise ValueError("SOS component list truncated")
            if ns != len(comps):
                raise ValueError("non-interleaved multi-scan JPEG not supported")
            scan = []
            for si in range(ns):
                cs, tt = body[1 + 2 * si], body[2 + 2 * si]
                match = next((c for c in comps if c[0] == cs), None)
                if match is None:
                    raise ValueError("SOS names unknown component")
                scan.append((match, tt >> 4, tt & 0xF))
            hmax = max(c[0][1] for c in scan)
            vmax = max(c[0][2] for c in scan)
            mcux = -(-fw // (8 * hmax))
            mcuy = -(-fh // (8 * vmax))
            bufs = [
                np.zeros((mcuy * 8 * vi, mcux * 8 * hi), dtype=np.float64)
                for (_, hi, vi, _), _, _ in scan
            ]
            rd = _JpegBitReader(d, pos)
            preds = [0] * ns
            zig = list(_JPEG_ZIGZAG)
            coef = np.empty(64)
            done = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and done and done % restart_interval == 0:
                        rd.align()
                        exp = 0xD0 + (done // restart_interval - 1) % 8
                        if not rd.at_marker(exp):
                            raise ValueError("expected JPEG restart marker")
                        rd.pos += 2
                        preds = [0] * ns
                    for si, ((_, hi, vi, tq), td, ta) in enumerate(scan):
                        if tq not in qtables:
                            raise ValueError("scan references missing DQT")
                        dcs = htables.get((0, td))
                        acs = htables.get((1, ta))
                        if dcs is None or acs is None:
                            raise ValueError("scan references missing DHT")
                        qt = qtables[tq]
                        for by in range(vi):
                            for bx in range(hi):
                                size = rd.huff(dcs)
                                diff = _jpeg_extend(rd.bits(size), size) if size else 0
                                preds[si] += diff
                                coef[:] = 0.0
                                coef[0] = preds[si]
                                kk = 1
                                while kk < 64:
                                    sym = rd.huff(acs)
                                    if sym == 0x00:
                                        break
                                    run, sz = sym >> 4, sym & 0xF
                                    if sz == 0:
                                        if run != 15:
                                            raise ValueError("bad AC symbol")
                                        kk += 16
                                        continue
                                    kk += run
                                    if kk > 63:
                                        raise ValueError("AC index overrun")
                                    coef[zig[kk]] = _jpeg_extend(rd.bits(sz), sz)
                                    kk += 1
                                block = cm.T @ (coef.reshape(8, 8) * qt) @ cm
                                y0 = (my * vi + by) * 8
                                x0 = (mx * hi + bx) * 8
                                bufs[si][y0 : y0 + 8, x0 : x0 + 8] = block
                    done += 1
            rd.align()
            pos = rd.pos
            planes = []
            for si, ((_, hi, vi, _), _, _) in enumerate(scan):
                ch = -(-fh * vi // vmax)
                cw = -(-fw * hi // hmax)
                px = np.clip(np.rint(bufs[si][:ch, :cw] + 128.0), 0, 255)
                planes.append(px.astype(np.uint8))
        else:
            # APPn / COM / DNL etc.: skipped (length-delimited)
            pass


def _jpeg_decode(payload: bytes):
    """Decode a single JPEG; trailing bytes after EOI raise (a stream of
    frames is MJPEG — use `_mjpeg_decode`)."""
    w, h, planes, end = _jpeg_decode_at(payload, 0)
    if end != len(bytes(payload)):
        raise ValueError("trailing bytes after JPEG EOI")
    return w, h, planes


def _mjpeg_encode(frames) -> bytes:
    """Encode same-shape uint8 luma frames as a raw MJPEG stream: the
    concatenation of standalone baseline JPEGs (every frame carries its
    own tables — the MJPEG convention, since any frame may be a seek
    target). `ffmpeg -f mjpeg` demuxes the output."""
    if not frames:
        raise ValueError("MJPEG needs at least one frame")
    return b"".join(_jpeg_encode(f) for f in frames)


def _mjpeg_decode(payload: bytes, max_frames: int | None = None):
    """Split + decode a raw MJPEG stream into ``(width, height, [lumas])``.
    Frames must share one shape (the motion statistics difference
    adjacent frames). With ``max_frames`` the walk STOPS after that many
    frames — bytes past the cut are deliberately not validated (decoding
    is the expensive part; sampling means not paying for unsampled
    frames). Zero frames, shape drift, or a non-SOI byte where a frame
    should start raise ValueError."""
    d = bytes(payload)
    lumas, pos, w, h = [], 0, None, None
    while pos < len(d) and (max_frames is None or len(lumas) < max_frames):
        fw, fh, planes, pos = _jpeg_decode_at(d, pos)
        if w is None:
            w, h = fw, fh
        elif (fw, fh) != (w, h):
            raise ValueError("MJPEG frame size changed mid-stream")
        lumas.append(planes[0])
    if not lumas:
        raise ValueError("MJPEG stream has no frames")
    return w, h, lumas


def synthesize_mjpeg_payloads(
    df: DataFrame, id_col: str, text_col: str, blocks_per_row: int = 2,
    max_frames: int = 4, max_chars: int | None = None,
) -> DataFrame:
    """Fixture synthesis: render a text column into REAL raw MJPEG streams
    (`_mjpeg_encode` — genuinely Huffman-coded baseline JPEGs). The raster
    is `_text_raster` at BLOCK granularity, so the lossy codec becomes
    losslessly replayable: char b of the text is one FLAT 8x8 block of
    value ``(ord(text[b]) + f) % 256`` in frame f (pads at ``f``), blocks
    in rows of ``blocks_per_row``. Flat blocks quantize to a DC-only
    spectrum under the step-1 DC quantizer, so the decoded pixels equal
    the rule exactly and one SQL oracle covers the whole Huffman+DCT round
    trip. `sample_mjpeg_frames`, the real decoder, reads it as it would
    read any camera or transcoder source.

    FORMAT BOUND: ITU-T T.81 stores SOF dimensions in 16 bits, so a
    frame is at most 65535 px tall — 8191 block rows. Text beyond
    ``8191 * blocks_per_row`` chars is NOT rendered (the fixture analog
    of a transcoder downscaling to the codec's capacity; a 60 KB document
    would overflow the SOF height field). The oracles replay the same
    truncation. Width shares the bound: ``blocks_per_row`` past 8191
    would overflow the 16-bit SOF width field (silently, since struct
    only raises past 65535), so it is rejected up front.

    ``max_chars`` is an explicit RENDER BUDGET below the format bound —
    the fixture analog of a transcoder's output-resolution cap. Encoding
    is O(chars·frames) DCT blocks, so an uncapped 60 KB document costs
    ~65k block encodes; callers that only need the codec exercised (not
    the format's maximum extent) pass a smaller cap and state the same
    substr() in their oracle. None means the format bound itself."""
    if blocks_per_row < 1 or blocks_per_row * 8 > 65535:
        raise ValueError(
            f"blocks_per_row={blocks_per_row} outside the 16-bit SOF "
            f"width bound (1..8191)"
        )
    bound = (65535 // 8) * blocks_per_row
    max_chars = bound if max_chars is None else min(max_chars, bound)

    def render(text: str) -> bytes:
        import numpy as np

        ones = np.ones((8, 8), np.uint8)
        frames = _text_raster(text[:max_chars], blocks_per_row, max_frames)
        return _mjpeg_encode([np.kron(f, ones) for f in frames])

    return _synthesize(df, id_col, text_col, render)


def sample_mjpeg_frames(media: DataFrame, max_frames: int = 4) -> DataFrame:
    """MJPEG frame sampling + motion analysis: each payload is split into
    its constituent baseline JPEGs and FULLY ENTROPY-DECODED
    (`_mjpeg_decode` → `_jpeg_decode_at`: Huffman, dequantize, IDCT, level
    shift), and up to ``max_frames`` frames emit one row each with
    statistics from the decoded luma plane — the same output contract as
    `sample_video_frames` (see `_sample_frames`), so the two containers are
    drop-in alternatives. Decoding stops at ``max_frames``: unsampled
    frames are never decoded. A NULL payload yields ZERO rows; malformed
    payloads raise ``ValueError``."""
    return _sample_frames(
        media, lambda p: _mjpeg_decode(p, max_frames=max_frames)[2], VIDEO_FRAME_SCHEMA
    )
