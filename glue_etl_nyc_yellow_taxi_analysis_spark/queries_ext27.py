"""Extended inventory XXVII — REAL media decode lanes (round 6).

The multimodal family's codec seam was a documented stand-in through r5
(no PIL/ffmpeg in this container).  These lanes close it with REAL,
stdlib-only decoders for two headerful uncompressed formats:

- ``q_wav_decode``: documents → PCM16 RIFF/WAVE payloads (high byte of
  every odd sample XOR 0x80, forcing genuine negative int16s) → a real
  chunk-walking parser (``operators/multimodal.parse_wav``) → exact
  integer sample stats + an md5 over the signed sample values.
- ``q_bmp_decode``: documents → 24bpp bottom-up BMP payloads (width 6 →
  2 padding bytes per row) → a real header parser
  (``operators/multimodal.parse_bmp``) that flips the row order and
  strips padding → per-channel byte sums + an md5 over the top-down
  pixel stream.

Both oracles replay the ENCODE transform and the decoded features
directly from ``text`` in SQL — a decoder that mis-walks chunks, drops
the bottom-up flip, leaks padding bytes, or botches int16 sign handling
fails the value hash, not just a row count.  The encode/decode pair runs
as two Arrow-batched ``mapInPandas`` stages, the same shape a
libjpeg/ffmpeg pipeline would have at 100 TB (per-partition batches, no
driver involvement, no shuffle).
"""

from __future__ import annotations

from .operators import multimodal
from .registry import register
from .tables import _t


_WAV_RATE = 16000


def q_wav_decode(spark, sf_dir):
    """Real PCM16 WAV decode: encode document text into RIFF/WAVE
    containers (documents_as_wav), then parse them back with the stdlib
    chunk walker and emit exact-integer sample statistics.  See module
    docstring; replaces the r5 fake_decode seam for audio."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_wav(docs, sample_rate=_WAV_RATE)
    return multimodal.decode_wav(media)


# sample k: lo = byte 2k, hi = byte 2k+1 (XOR 0x80 when k odd), signed
# int16.  DuckDB list lanes mirror the audio-energy oracle: docs are
# ASCII so byte i == char i (the equivalence q_audio_energy_windows pins).
SQL_WAV_DECODE = f"""
WITH sized AS (
  SELECT doc_id AS media_id, COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
), sampled AS (
  SELECT media_id, n_bytes // 2 AS n,
         list_transform(range(0, n_bytes // 2), k ->
           CASE WHEN ascii(substr(text, 2 * k + 1, 1))
                     + 256 * xor(ascii(substr(text, 2 * k + 2, 1)),
                                 CASE WHEN k % 2 = 1 THEN 128 ELSE 0 END)
                     >= 32768
                THEN ascii(substr(text, 2 * k + 1, 1))
                     + 256 * xor(ascii(substr(text, 2 * k + 2, 1)),
                                 CASE WHEN k % 2 = 1 THEN 128 ELSE 0 END)
                     - 65536
                ELSE ascii(substr(text, 2 * k + 1, 1))
                     + 256 * xor(ascii(substr(text, 2 * k + 2, 1)),
                                 CASE WHEN k % 2 = 1 THEN 128 ELSE 0 END)
           END) AS samples
  FROM sized
)
SELECT media_id,
       {_WAV_RATE} AS sample_rate,
       1 AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(COALESCE(list_sum(list_transform(samples, s -> abs(s))), 0)
            AS BIGINT) AS sum_abs,
       CAST(COALESCE(list_max(list_transform(samples, s -> abs(s))), 0)
            AS BIGINT) AS peak_abs,
       CAST(COALESCE(list_sum(list_transform(range(1, n), k ->
                CASE WHEN (samples[k] < 0) <> (samples[k + 1] < 0)
                     THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_zero_cross,
       md5(COALESCE(array_to_string(samples, ','), '')) AS samples_md5
FROM sampled
"""

register(q_wav_decode, SQL_WAV_DECODE)


_BMP_W = 6      # row stride 18 + 2 padding bytes — padding is load-bearing
_BMP_ROW = _BMP_W * 3


def q_bmp_decode(spark, sf_dir):
    """Real 24bpp BMP decode: encode document text into bottom-up BMP
    containers (documents_as_bmp), then parse them back with the stdlib
    header reader (row flip + padding strip) and emit per-channel byte
    sums plus an order-pinning md5.  See module docstring; replaces the
    r5 fake_decode seam for images."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_bmp(docs, width=_BMP_W)
    return multimodal.decode_bmp(media)


# pixel byte i of the TOP-DOWN stream is text byte i (zero-padded past
# n_bytes); height = max(1, n_bytes // 18), n_data = 18 * height.  The
# bottom-up flip and padding strip cancel the encoder exactly, so the
# oracle never has to model the container layout — only the transform.
SQL_BMP_DECODE = f"""
WITH sized AS (
  SELECT doc_id AS media_id, COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
), shaped AS (
  SELECT media_id, text, n_bytes,
         greatest(n_bytes // {_BMP_ROW}, 1) AS h
  FROM sized
), pix AS (
  SELECT media_id, h,
         list_transform(range(0, {_BMP_ROW} * h), i ->
           CASE WHEN i < n_bytes THEN ascii(substr(text, i + 1, 1))
                ELSE 0 END) AS vals
  FROM shaped
)
SELECT media_id,
       {_BMP_W} AS width,
       CAST(h AS INTEGER) AS height,
       CAST({_BMP_W} * h AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(range(0, {_BMP_W} * h),
                                    j -> vals[3 * j + 1])) AS BIGINT) AS sum_b,
       CAST(list_sum(list_transform(range(0, {_BMP_W} * h),
                                    j -> vals[3 * j + 2])) AS BIGINT) AS sum_g,
       CAST(list_sum(list_transform(range(0, {_BMP_W} * h),
                                    j -> vals[3 * j + 3])) AS BIGINT) AS sum_r,
       md5(COALESCE(array_to_string(vals, ','), '')) AS pixels_md5
FROM pix
"""

register(q_bmp_decode, SQL_BMP_DECODE)


_Y4M_W, _Y4M_H = 6, 4
_Y4M_Y = _Y4M_W * _Y4M_H                      # 24 luma bytes / frame
_Y4M_F = _Y4M_Y + 2 * (_Y4M_W // 2) * (_Y4M_H // 2)  # 36 bytes / frame


def q_y4m_decode(spark, sf_dir):
    """Real YUV4MPEG2 video decode: encode document text into Y4M
    streams (documents_as_y4m — frame f carries text bytes [36f, 36f+36),
    split Y/U/V 24+6+6, odd frames get an Xodd FRAME parameter), then
    parse them back with the stdlib stream walker and emit per-plane
    sums, the inter-frame luma delta (the scene-cut energy), and a luma
    md5.  Completes the real-decode trio: audio (q_wav_decode), image
    (q_bmp_decode), video (this).  Build and parse run as ONE fused
    Arrow pass (r12 §4 fusion — the container bytes never cross the
    Python boundary), byte-identical to the two-stage form."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.y4m_roundtrip_stats(
        docs, width=_Y4M_W, height=_Y4M_H
    ).select(
        "media_id",
        "width",
        "height",
        "n_frames",
        "sum_y",
        "sum_u",
        "sum_v",
        "frame_diff_sum",
        "y_md5",
    )


# Frame f's byte stream is text[36f : 36f+36) zero-padded (ASCII docs:
# byte i == char i, the q_audio_energy_windows equivalence); within a
# frame, bytes [0,24) are Y, [24,30) U, [30,36) V.  The flat luma list
# yl re-indexes v: luma j lives at v[(j//24)*36 + j%24].  A decoder that
# leaks chroma into luma, drops the Xodd parameter scan, or mis-counts
# frames diverges from this replay.
SQL_Y4M_DECODE = f"""
WITH sized AS (
  SELECT doc_id AS media_id, COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
), shaped AS (
  SELECT media_id, text, n_bytes,
         greatest(n_bytes // {_Y4M_F}, 1) AS nf
  FROM sized
), vals AS (
  SELECT media_id, nf,
         list_transform(range(0, {_Y4M_F} * nf), i ->
           CASE WHEN i < n_bytes THEN ascii(substr(text, i + 1, 1))
                ELSE 0 END) AS v
  FROM shaped
), planes AS (
  SELECT media_id, nf,
         list_transform(range(0, {_Y4M_Y} * nf), j ->
           v[(j // {_Y4M_Y}) * {_Y4M_F} + j % {_Y4M_Y} + 1]) AS yl,
         list_transform(range(0, 6 * nf), j ->
           v[(j // 6) * {_Y4M_F} + {_Y4M_Y} + j % 6 + 1]) AS ul,
         list_transform(range(0, 6 * nf), j ->
           v[(j // 6) * {_Y4M_F} + {_Y4M_Y} + 6 + j % 6 + 1]) AS vl
  FROM vals
)
SELECT media_id,
       {_Y4M_W} AS width,
       {_Y4M_H} AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(COALESCE(list_sum(yl), 0) AS BIGINT) AS sum_y,
       CAST(COALESCE(list_sum(ul), 0) AS BIGINT) AS sum_u,
       CAST(COALESCE(list_sum(vl), 0) AS BIGINT) AS sum_v,
       CAST(COALESCE(list_sum(list_transform(
              range(0, {_Y4M_Y} * (nf - 1)), j ->
                abs(yl[j + {_Y4M_Y} + 1] - yl[j + 1]))), 0) AS BIGINT)
         AS frame_diff_sum,
       md5(array_to_string(yl, ',')) AS y_md5
FROM planes
"""

register(q_y4m_decode, SQL_Y4M_DECODE)
