"""Extended inventory XLIII — RIFF AVI container lanes (round 9).

``operators/avi.py`` closes the real-world-container seam the r8
verdict called out (``multimodal.py`` sample_frames' ffmpeg
``NotImplementedError``): a RIFF chunk walker (the WAV discipline)
over single-video-stream AVIs, with the two pre-ffmpeg stream flavors
decoded fully in-repo — MJPEG via ``operators/jpeg.py`` per frame, and
uncompressed bottom-up DIB rasters (the BMP row discipline).

Oracle strategy mirrors the stills lanes: the lossless DIB lane is
CONTENT-exact (the SQL side replays every pixel byte positionally from
``text`` — a walker that misses a pad byte, mis-flips the bottom-up
rows, or drops a JUNK chunk wrong fails the value hash), while the
lossy MJPEG lanes pin the geometry/accounting contract corpus-wide
(every frame must decode at exactly the container's declared
dimensions; pixels stay owned by the spec-stream tests in
tests/test_jpeg_codec.py + the determinism probe on the luma md5).

Scale posture: one linear mapInPandas pass per lane, zero shuffle,
payloads never leave their executor; per-row fail-soft keeps one
poisoned container from killing a 100 TB sweep.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import avi
from .registry import register
from .tables import _t


# MJPEG raster geometry (per frame): text bytes fill W×H grayscale.
_MW, _MH = 16, 8
_MLEN = _MW * _MH  # 128 text bytes per frame
# DIB geometry: top-down BGR, 3 bytes/pixel; row 18 → stride 20 (pad!).
_DW, _DH = 6, 2
_DLEN = _DW * _DH * 3  # 36 text bytes per frame


def q_mjpeg_decode(spark, sf_dir):
    """Full MJPEG-in-AVI decode: text → per-frame JPEG streams muxed
    into a RIFF AVI (avih/strl headers, JUNK padding chunk, movi, idx1)
    → container walk + every frame through the in-repo JPEG decoder.
    The oracle pins that every document's container parses with exactly
    the geometry and frame count its byte length implies and that ALL
    frames decode (n_sampled == n_frames at stride 1)."""
    d = _t(spark, sf_dir, "documents")
    media = avi.documents_as_avi(d, width=_MW, height=_MH, codec="MJPG")
    return avi.decode_mjpeg(media, every_nth=1).select(
        "media_id",
        "width",
        "height",
        "n_frames",
        "n_sampled",
        F.col("luma_md5").isNotNull().alias("decoded"),
    )


SQL_MJPEG_DECODE = f"""
SELECT doc_id AS media_id,
       CAST({_MW} AS INTEGER) AS width,
       CAST({_MH} AS INTEGER) AS height,
       CAST(greatest(octet_length(encode(COALESCE(text, ''))) // {_MLEN}, 1)
            AS BIGINT) AS n_frames,
       CAST(greatest(octet_length(encode(COALESCE(text, ''))) // {_MLEN}, 1)
            AS BIGINT) AS n_sampled,
       TRUE AS decoded
FROM documents
"""

register(q_mjpeg_decode, SQL_MJPEG_DECODE)


_STRIDE = 3


def q_avi_framesample(spark, sf_dir):
    """Keyframe-style sampling from a real container: walk each AVI
    once, keep every 3rd frame, decode ONLY the kept frames (the
    demux-then-selective-decode pattern ffmpeg pipelines use — at 100 TB
    you never pay full-decode for a sampled pipeline).  The oracle pins
    the sampling arithmetic against the container math: n_sampled =
    ceil(n_frames / 3) with n_frames derived from byte length alone."""
    d = _t(spark, sf_dir, "documents")
    media = avi.documents_as_avi(d, width=_MW, height=_MH, codec="MJPG")
    return avi.decode_mjpeg(media, every_nth=_STRIDE).select(
        "media_id",
        "n_frames",
        "n_sampled",
        F.col("luma_md5").isNotNull().alias("decoded"),
    )


SQL_AVI_FRAMESAMPLE = f"""
WITH shaped AS (
  SELECT doc_id AS media_id,
         greatest(octet_length(encode(COALESCE(text, ''))) // {_MLEN}, 1)
           AS nf
  FROM documents
)
SELECT media_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST((nf + {_STRIDE - 1}) // {_STRIDE} AS BIGINT) AS n_sampled,
       TRUE AS decoded
FROM shaped
"""

register(q_avi_framesample, SQL_AVI_FRAMESAMPLE)


def q_avi_dib_decode(spark, sf_dir):
    """CONTENT-exact AVI lane: text bytes fill top-down BGR rasters
    (frame f = bytes [36f, 36f+36), W6 H2), stored bottom-up with
    4-byte row padding in 00db chunks, then the walker re-flips and
    un-pads.  Because the DIB flavor is lossless, the SQL side replays
    every pixel byte positionally from ``text`` (ASCII driver docs:
    byte i == char i, the q_bmp_decode/q_y4m_decode discipline) — the
    md5 catches a single mis-walked pad or mis-flipped row."""
    d = _t(spark, sf_dir, "documents")
    media = avi.documents_as_avi(d, width=_DW, height=_DH, codec="DIB ")
    return avi.decode_avi_dib(media)


SQL_AVI_DIB_DECODE = f"""
WITH sized AS (
  SELECT doc_id AS media_id, COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
), shaped AS (
  SELECT media_id, text, n_bytes,
         greatest(n_bytes // {_DLEN}, 1) AS nf
  FROM sized
), vals AS (
  SELECT media_id, nf,
         list_transform(range(0, {_DLEN} * nf), i ->
           CASE WHEN i < n_bytes THEN ascii(substr(text, i + 1, 1))
                ELSE 0 END) AS v
  FROM shaped
)
SELECT media_id,
       {_DW} AS width,
       {_DH} AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(COALESCE(list_sum(v), 0) AS BIGINT) AS sum_pix,
       CAST(COALESCE(list_sum(list_transform(
              range(0, {_DLEN} * (nf - 1)), j ->
                abs(v[j + {_DLEN} + 1] - v[j + 1]))), 0) AS BIGINT)
         AS frame_diff_sum,
       md5(array_to_string(v, ',')) AS pixels_md5
FROM vals
"""

register(q_avi_dib_decode, SQL_AVI_DIB_DECODE)
