"""RIFF AVI container walker — MJPEG and uncompressed-DIB video lanes.

Closes the real-world-container seam the earlier rounds left at
``multimodal.sample_frames(fake_decode=False)``: Y4M covered raw video
and ``operators/jpeg.py`` covers still images, but a user arriving with
an ``.avi`` hit ``NotImplementedError``.  An AVI is RIFF chunk soup —
the exact discipline ``multimodal.parse_wav`` already walks (WAV is
RIFF too): fourcc + little-endian u32 size + payload, padded to even
length, with ``LIST`` chunks nesting.  The two stream flavors every
pre-ffmpeg tool emitted are in scope:

* ``MJPG`` — each ``00dc`` chunk is one complete baseline-JPEG stream,
  decoded per-frame by the in-repo ``operators/jpeg.py`` codec (no new
  entropy coder needed).
* ``DIB `` (``biCompression == 0``, 24 bpp) — each ``00db`` chunk is a
  bottom-up BGR raster with rows padded to 4 bytes, the same layout
  ``multimodal.parse_bmp`` handles inside .bmp files.  Because this
  flavor is lossless, its decode lane is CONTENT-exact SQL-replayable
  (the Y4M/BMP oracle style), not just geometry-checked.

Anything else a real file could carry (Xvid/H.264 handlers, 8-bit
palettized DIB, multi-stream interleaves beyond stream 0) raises
``NotImplementedError`` — the documented ffmpeg hand-off, mirroring the
non-PCM16 WAV and non-4:2:0 Y4M seams.

Reference parity note: the reference repo (AWS Glue NYC-taxi ETL,
tabular only) has no media path at all — this module is part of the
training-data-pipeline extension surface, not a port.

Scale posture: containers are built and parsed entirely inside Arrow
``mapInPandas`` batches on executors; payload bytes never reach the
driver, there is no shuffle, and per-row fail-soft (corrupt container →
NULL stats row) keeps a poisoned file from killing a 100 TB sweep.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import (
    _DOC_COLS,
    _JPEG_ERRORS,
    _MEDIA_COLS,
    _PARSE_ERRORS,
    _PAYLOAD_SCHEMA,
    _row_stage,
    _utf8,
)

_AVIIF_KEYFRAME = 0x10


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """One RIFF chunk, padded to even length (the pad byte is NOT
    counted in the declared size — the classic RIFF gotcha)."""
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def avi_container(
    frames: list[bytes],
    width: int,
    height: int,
    codec: str = "MJPG",
    fps: int = 25,
    junk: bool = True,
) -> bytes:
    """Build a single-video-stream AVI: ``hdrl`` (avih + strl), an
    optional ``JUNK`` chunk (real muxers pad with these; the parser must
    skip them), the ``movi`` frame data, and a full ``idx1`` index.

    ``codec='MJPG'`` stores each frame as a complete JPEG stream in
    ``00dc`` chunks; ``codec='DIB '`` stores bottom-up padded 24 bpp
    rasters in ``00db`` chunks (each frame must already be exactly
    ``row_padded*height`` bytes).
    """
    if codec not in ("MJPG", "DIB "):
        raise ValueError(f"unsupported writer codec {codec!r}")
    is_dib = codec == "DIB "
    data_fcc = b"00db" if is_dib else b"00dc"
    buf_size = max((len(f) for f in frames), default=0)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,      # dwMicroSecPerFrame
        buf_size * fps,        # dwMaxBytesPerSec (advisory)
        0,                     # dwPaddingGranularity
        0x10,                  # dwFlags: AVIF_HASINDEX
        len(frames),           # dwTotalFrames
        0,                     # dwInitialFrames
        1,                     # dwStreams
        buf_size,              # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,            # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIii4H",
        b"vids",
        codec.encode("ascii"),
        0,                     # dwFlags
        0, 0,                  # wPriority, wLanguage
        0,                     # dwInitialFrames
        1, fps,                # dwScale / dwRate = frame period
        0,                     # dwStart
        len(frames),           # dwLength (in frames)
        buf_size,              # dwSuggestedBufferSize
        -1,                    # dwQuality (driver default)
        0,                     # dwSampleSize (0: one sample per chunk)
        0, 0, width, height,   # rcFrame
    )
    row_padded = ((width * 3 + 3) // 4) * 4
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,                    # biSize
        width,
        height,                # positive: bottom-up DIB
        1,                     # biPlanes
        24,                    # biBitCount
        b"\x00\x00\x00\x00" if is_dib else b"MJPG",  # biCompression
        row_padded * height if is_dib else 0,        # biSizeImage
        0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )

    movi_payload = bytearray()
    idx = bytearray()
    for fr in frames:
        # idx1 offsets point at the chunk fourcc, relative to the
        # 'movi' list-type fourcc (offset 4 = first chunk).
        idx += struct.pack("<4sII", data_fcc, _AVIIF_KEYFRAME,
                           4 + len(movi_payload)) + struct.pack("<I", len(fr))
        movi_payload += _chunk(data_fcc, fr)
    movi = _list(b"movi", bytes(movi_payload))

    body = hdrl
    if junk:
        body += _chunk(b"JUNK", b"\x00" * 18)  # odd size exercises padding
    body += movi + _chunk(b"idx1", bytes(idx))
    return _chunk(b"RIFF", b"AVI " + body)


def _walk(data: bytes, pos: int, end: int):
    """Yield (fourcc, list_type|None, payload_start, payload_size) for
    each chunk in [pos, end); raises ValueError on truncation."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError(f"truncated chunk header at byte {pos}")
        fcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        start = pos + 8
        if start + size > end:
            raise ValueError(f"chunk {fcc!r} overruns container at {pos}")
        if fcc in (b"LIST", b"RIFF"):
            if size < 4:
                raise ValueError(f"{fcc!r} chunk too small for a list type")
            yield fcc, data[start : start + 4], start + 4, size - 4
        else:
            yield fcc, None, start, size
        pos = start + size + (size % 2)  # pad byte outside declared size


def parse_avi(data: bytes) -> tuple[int, int, str, list[bytes]]:
    """Parse a single-video-stream AVI → (width, height, codec,
    frames-as-raw-chunk-bytes).  Walks RIFF/LIST nesting, skips JUNK,
    honours pad bytes, and cross-checks ``strh``'s frame count against
    the ``movi`` walk.  ``ValueError`` on malformed/truncated
    containers; ``NotImplementedError`` for stream handlers other than
    MJPG / uncompressed 24 bpp DIB (the ffmpeg hand-off)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI container")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if 8 + riff_size > len(data):
        raise ValueError("declared RIFF size overruns the file")
    end = 8 + riff_size

    width = height = None
    codec: str | None = None
    declared_frames = None
    frames: list[bytes] = []
    saw_movi = False

    for fcc, ltype, start, size in _walk(data, 12, end):
        if fcc == b"LIST" and ltype == b"hdrl":
            for f2, l2, s2, z2 in _walk(data, start, start + size):
                if f2 == b"avih":
                    if z2 < 40:
                        raise ValueError("avih chunk too small")
                    width, height = struct.unpack_from("<II", data, s2 + 32)
                elif f2 == b"LIST" and l2 == b"strl":
                    for f3, _l3, s3, z3 in _walk(data, s2, s2 + z2):
                        if f3 == b"strh":
                            if z3 < 40 or data[s3 : s3 + 4] != b"vids":
                                continue  # non-video stream headers
                            declared_frames = struct.unpack_from(
                                "<I", data, s3 + 32
                            )[0]
                        elif f3 == b"strf" and codec is None and z3 >= 40:
                            bitcount, comp = struct.unpack_from(
                                "<H4s", data, s3 + 14
                            )
                            if comp == b"MJPG":
                                codec = "MJPG"
                            elif comp == b"\x00\x00\x00\x00":
                                if bitcount != 24:
                                    raise NotImplementedError(
                                        f"{bitcount}-bpp DIB streams need "
                                        f"a palette decoder (ffmpeg seam)"
                                    )
                                codec = "DIB "
                            else:
                                raise NotImplementedError(
                                    f"stream handler {comp!r} is not "
                                    f"decoded in-repo; wire ffmpeg here"
                                )
        elif fcc == b"LIST" and ltype == b"movi":
            saw_movi = True
            for f2, _l2, s2, z2 in _walk(data, start, start + size):
                # stream-0 video data: 00db (raw) / 00dc (compressed)
                if f2 in (b"00db", b"00dc"):
                    frames.append(data[s2 : s2 + z2])

    if width is None or codec is None:
        raise ValueError("missing avih/strf headers")
    if width <= 0 or height is None or int(height) <= 0:
        raise ValueError(f"non-positive dimensions {width}x{height}")
    if not saw_movi:
        raise ValueError("no movi list")
    if declared_frames is not None and declared_frames != len(frames):
        raise ValueError(
            f"strh declares {declared_frames} frames, movi has {len(frames)}"
        )
    return int(width), int(height), codec, frames


def dib_frame(topdown_bgr: bytes, width: int, height: int) -> bytes:
    """Pack a top-down tightly-packed BGR raster into the bottom-up
    4-byte-row-padded layout a ``00db`` chunk stores."""
    row = width * 3
    if len(topdown_bgr) != row * height:
        raise ValueError(f"{len(topdown_bgr)} bytes, want {row * height}")
    pad = b"\x00" * ((-row) % 4)
    return b"".join(
        topdown_bgr[r * row : (r + 1) * row] + pad
        for r in range(height - 1, -1, -1)
    )


def parse_dib_frame(frame: bytes, width: int, height: int) -> bytes:
    """Inverse of :func:`dib_frame`: bottom-up padded rows → top-down
    tightly-packed BGR bytes."""
    row = width * 3
    stride = ((row + 3) // 4) * 4
    if len(frame) != stride * height:
        raise ValueError(f"{len(frame)} bytes, want {stride * height}")
    return b"".join(
        frame[r * stride : r * stride + row]
        for r in range(height - 1, -1, -1)
    )


def documents_as_avi(
    df: DataFrame,
    width: int = 16,
    height: int = 8,
    codec: str = "MJPG",
) -> DataFrame:
    """Deterministic AVI payloads from document text → (media_id,
    payload).

    ``MJPG``: frame f's grayscale raster is text bytes
    [f·W·H, (f+1)·W·H) zero-padded, encoded through the in-repo
    ``operators/jpeg.py`` baseline codec — every document exercises the
    full Huffman/FDCT path once per frame.

    ``DIB ``: frame f's top-down BGR byte stream is text bytes
    [f·3WH, (f+1)·3WH) zero-padded, stored bottom-up with 4-byte row
    padding — lossless, so the decode lane's oracle replays content
    exactly (the Y4M discipline).

    n_frames = max(1, n_bytes // frame_len) either way, so the SQL side
    derives the frame count from ``octet_length`` alone.
    """
    from . import jpeg

    frame_len = width * height * (3 if codec == "DIB " else 1)

    def row(mid, text):
        b = _utf8(text)
        n = max(1, len(b) // frame_len)
        raw = b[: frame_len * n].ljust(frame_len * n, b"\x00")
        frames = []
        for f in range(n):
            fb = raw[f * frame_len : (f + 1) * frame_len]
            if codec == "DIB ":
                frames.append(dib_frame(fb, width, height))
            else:
                pix = np.frombuffer(fb, dtype=np.uint8).reshape(height, width)
                frames.append(jpeg.encode_baseline(pix, 90))
        yield mid, avi_container(frames, width, height, codec)

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


_DIB_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("sum_pix", T.LongType(), True),
        T.StructField("frame_diff_sum", T.LongType(), True),
        T.StructField("pixels_md5", T.StringType(), True),
    ]
)


def decode_avi_dib(df: DataFrame) -> DataFrame:
    """CONTENT-exact decode of uncompressed-DIB AVI payloads: container
    walk → per-frame un-pad + bottom-up→top-down flip → exact integer
    stats (total byte sum, inter-frame Σ|Δ| scene-cut energy) and an md5
    over the comma-joined top-down byte stream.  A walker that misses a
    pad byte, skips JUNK wrong, or flips rows incorrectly fails the
    value hash.  Per-row fail-soft on corrupt containers."""

    def row(mid, payload):
        w, h, codec, frames = parse_avi(bytes(payload))
        if codec != "DIB ":
            raise ValueError("not a DIB stream")
        tops = [parse_dib_frame(fr, w, h) for fr in frames]
        arrs = [np.frombuffer(t, dtype=np.uint8) for t in tops]
        diff = sum(
            int(np.abs(a.astype(np.int64) - b.astype(np.int64)).sum())
            for a, b in zip(arrs, arrs[1:])
        )
        yield (
            mid,
            w,
            h,
            len(frames),
            int(sum(int(a.sum()) for a in arrs)),
            diff,
            hashlib.md5(",".join(map(str, b"".join(tops))).encode()).hexdigest(),
        )

    return _row_stage(df, _MEDIA_COLS, _DIB_DECODE_SCHEMA, row, _PARSE_ERRORS)


_MJPEG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("n_sampled", T.LongType(), True),
        T.StructField("luma_md5", T.StringType(), True),
    ]
)


def decode_mjpeg(df: DataFrame, every_nth: int = 1) -> DataFrame:
    """MJPEG decode with frame sampling: container walk → keep every
    ``every_nth``-th frame (the ffmpeg keyframe-extraction pattern) →
    decode each kept frame through ``operators/jpeg.py`` → per-media
    geometry, frame accounting, and an md5 over the decoded luma bytes
    of the sampled frames (deterministic; pinned by the retry probe and
    spec-stream tests, codec-defined so it stays out of SQL oracles).
    NULL stats row if the container is corrupt or ANY sampled frame
    fails to decode at the container's declared geometry."""
    from . import jpeg

    def row(mid, payload):
        w, h, codec, frames = parse_avi(bytes(payload))
        if codec != "MJPG":
            raise ValueError("not an MJPG stream")
        kept = frames[:: max(1, every_nth)]
        digest = hashlib.md5()
        for fr in kept:
            fh, fw, px = jpeg.decode_baseline(fr)
            if (fw, fh) != (w, h):
                raise ValueError("frame/container dim mismatch")
            digest.update(px.tobytes())
        yield mid, w, h, len(frames), len(kept), digest.hexdigest()

    return _row_stage(df, _MEDIA_COLS, _MJPEG_DECODE_SCHEMA, row, _JPEG_ERRORS)
