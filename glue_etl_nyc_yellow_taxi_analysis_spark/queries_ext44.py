"""Extended inventory XLIV — media format-seam closures (round 9).

The r8 verdict's remaining multimodal seams were the encodings the
stdlib codecs refused: non-PCM16 WAV, non-24bpp BMP, non-4:2:0 Y4M.
These lanes close all three with real decoders (no library, no stub):

- ``q_wav_formats``: ONE sample stream per document, serialized per
  ``doc_id % 4`` as PCM16 / unsigned PCM8 / signed PCM24 / IEEE float32
  (``multimodal.pack_samples``), decoded back through the one
  ``parse_wav`` contract (everything normalized to the int16 scale).
  PCM16/24/f32 round-trip bit-exactly; PCM8 quantizes to
  floor(s/256)*256 — deterministic, and the oracle replays it.
- ``q_bmp_palette_decode``: 8bpp palette BMPs whose 256-entry BGRX
  color table is the affine map i → (i, 7i%256, 13i%256); the decoder
  resolves indices through the file's own table and must emit the same
  top-down BGR stream as the 24bpp contract (content-exact md5).
- ``q_y4m_chroma_decode``: the SAME corpus split three ways by
  ``doc_id % 3`` into C422 / C444 / Cmono streams — per-chroma plane
  geometry (flen 48/72/24 at W6 H4) drives both the container build and
  the plane split, so a parser that hardcodes 4:2:0 math fails the luma
  hash on two thirds of the corpus.

Oracle strategy: all three lanes are CONTENT-exact (the SQL side
replays the encode transform and the decoded bytes positionally from
``text`` — ASCII driver docs: byte i == char i, the
q_audio_energy_windows equivalence).  Scale posture: two chained
mapInPandas stages per lane (encode, decode), zero shuffle, payloads
never leave their executor, per-row fail-soft.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import multimodal
from .registry import register
from .tables import _t


_WAV_RATE = 16000


def q_wav_formats(spark, sf_dir):
    """Multi-encoding WAV decode: build per-document containers in the
    encoding ``doc_id % 4`` selects (PCM16/PCM8/PCM24/float32), decode
    them all through the one normalized parse_wav contract, and emit
    the encoding tag next to the exact-integer sample stats.  The
    samples_md5 is IDENTICAL across PCM16/24/f32 rows (lossless
    round-trips on the int16 scale) and deterministically quantized on
    PCM8 rows — both facts value-hash-pinned by the oracle."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_wav_formats(docs, sample_rate=_WAV_RATE)
    m = F.col("media_id") % 4
    return multimodal.decode_wav(media).select(
        "media_id",
        F.when(m == 3, F.lit(3)).otherwise(F.lit(1)).cast("int").alias(
            "fmt_code"
        ),
        F.when(m == 0, F.lit(16))
        .when(m == 1, F.lit(8))
        .when(m == 2, F.lit(24))
        .otherwise(F.lit(32))
        .cast("int")
        .alias("bits"),
        "n_samples",
        "sum_abs",
        "peak_abs",
        "n_zero_cross",
        "samples_md5",
    )


# The sample replay is SQL_WAV_DECODE's byte-pair rule verbatim; the
# PCM8 rows then quantize each sample to floor(s/256)*256 (the high
# byte round-trip).  floor(), not integer division: DuckDB's // and
# Python's >> disagree on negatives, floor matches the arithmetic
# shift exactly.
SQL_WAV_FORMATS = f"""
WITH sized AS (
  SELECT doc_id AS media_id, doc_id % 4 AS m, COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
), sampled AS (
  SELECT media_id, m, n_bytes // 2 AS n,
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
), dec AS (
  SELECT media_id, m, n,
         CASE WHEN m = 1
              THEN list_transform(samples, s ->
                     CAST(floor(s / 256.0) AS BIGINT) * 256)
              ELSE list_transform(samples, s -> CAST(s AS BIGINT))
         END AS d
  FROM sampled
)
SELECT media_id,
       CAST(CASE WHEN m = 3 THEN 3 ELSE 1 END AS INTEGER) AS fmt_code,
       CAST(CASE m WHEN 0 THEN 16 WHEN 1 THEN 8 WHEN 2 THEN 24 ELSE 32 END
            AS INTEGER) AS bits,
       CAST(n AS BIGINT) AS n_samples,
       CAST(COALESCE(list_sum(list_transform(d, s -> abs(s))), 0)
            AS BIGINT) AS sum_abs,
       CAST(COALESCE(list_max(list_transform(d, s -> abs(s))), 0)
            AS BIGINT) AS peak_abs,
       CAST(COALESCE(list_sum(list_transform(range(1, n), k ->
                CASE WHEN (d[k] < 0) <> (d[k + 1] < 0)
                     THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_zero_cross,
       md5(COALESCE(array_to_string(d, ','), '')) AS samples_md5
FROM dec
"""

register(q_wav_formats, SQL_WAV_FORMATS)


_PAL_W = 6  # 8bpp row stride 8 → 2 pad bytes per row (strip load-bearing)


def q_bmp_palette_decode(spark, sf_dir):
    """8bpp palette BMP decode: index byte i of the top-down stream is
    text byte i (height = max(1, n_bytes // 6)), the file's color table
    is the affine palette i → BGR (i, 7i%256, 13i%256), and decode_bmp
    must resolve every index through THAT table into the same top-down
    BGR contract as the 24bpp lane — content-exact md5 over the
    resolved bytes, channel sums pinning the table alignment."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_bmp_pal8(docs, width=_PAL_W)
    return multimodal.decode_bmp(media)


SQL_BMP_PALETTE_DECODE = f"""
WITH sized AS (
  SELECT doc_id AS media_id, COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
), shaped AS (
  SELECT media_id, text, n_bytes,
         greatest(n_bytes // {_PAL_W}, 1) AS h
  FROM sized
), idx AS (
  SELECT media_id, h,
         list_transform(range(0, {_PAL_W} * h), i ->
           CASE WHEN i < n_bytes THEN ascii(substr(text, i + 1, 1))
                ELSE 0 END) AS xs
  FROM shaped
), pix AS (
  SELECT media_id, h, xs,
         flatten(list_transform(xs, x ->
           [x, (x * 7) % 256, (x * 13) % 256])) AS vals
  FROM idx
)
SELECT media_id,
       {_PAL_W} AS width,
       CAST(h AS INTEGER) AS height,
       CAST({_PAL_W} * h AS BIGINT) AS n_pixels,
       CAST(list_sum(xs) AS BIGINT) AS sum_b,
       CAST(list_sum(list_transform(xs, x -> (x * 7) % 256))
            AS BIGINT) AS sum_g,
       CAST(list_sum(list_transform(xs, x -> (x * 13) % 256))
            AS BIGINT) AS sum_r,
       md5(COALESCE(array_to_string(vals, ','), '')) AS pixels_md5
FROM pix
"""

register(q_bmp_palette_decode, SQL_BMP_PALETTE_DECODE)


_Y4M_W, _Y4M_H = 6, 4
# doc_id % 3 → (chroma, chroma plane bytes per frame)
_CHROMAS = (("422", 12), ("444", 24), ("mono", 0))


def q_y4m_chroma_decode(spark, sf_dir):
    """Chroma-sampling sweep: split the corpus by ``doc_id % 3`` into
    C422 / C444 / Cmono Y4M streams (per-chroma frame geometry drives
    both the build and the parse), decode each through the one
    parse_y4m contract, and pin per-plane sums + the luma md5 per
    chroma.  One fused encode→decode corpus pass (the r12 §4 fusion:
    the former three filtered build→decode branches shipped every
    container payload JVM→Python→JVM→Python across six Arrow stages;
    measured 2.0s → 0.5s at sf0.1 with identical rows) — no shuffle,
    and a parser hardcoding 4:2:0 plane math diverges on every row."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.y4m_roundtrip_stats(
        docs,
        width=_Y4M_W,
        height=_Y4M_H,
        chroma_mod=tuple(c for c, _ in _CHROMAS),
    ).select(
        "media_id",
        "chroma",
        "n_frames",
        "sum_y",
        "sum_u",
        "sum_v",
        "frame_diff_sum",
        "y_md5",
    )


def _y4m_branch_sql(k: int, chroma: str, c_len: int) -> str:
    y_len = _Y4M_W * _Y4M_H
    f_len = y_len + 2 * c_len
    if c_len:
        u_sum = (
            f"CAST(COALESCE(list_sum(list_transform(range(0, {c_len} * nf), "
            f"j -> v[(j // {c_len}) * {f_len} + {y_len} + j % {c_len} + 1]"
            f")), 0) AS BIGINT)"
        )
        v_sum = (
            f"CAST(COALESCE(list_sum(list_transform(range(0, {c_len} * nf), "
            f"j -> v[(j // {c_len}) * {f_len} + {y_len} + {c_len} "
            f"+ j % {c_len} + 1])), 0) AS BIGINT)"
        )
    else:
        u_sum = v_sum = "CAST(0 AS BIGINT)"
    return f"""
SELECT media_id, '{chroma}' AS chroma,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(COALESCE(list_sum(yl), 0) AS BIGINT) AS sum_y,
       {u_sum} AS sum_u,
       {v_sum} AS sum_v,
       CAST(COALESCE(list_sum(list_transform(
              range(0, {y_len} * (nf - 1)), j ->
                abs(yl[j + {y_len} + 1] - yl[j + 1]))), 0) AS BIGINT)
         AS frame_diff_sum,
       md5(array_to_string(yl, ',')) AS y_md5
FROM (
  SELECT media_id, nf, v,
         list_transform(range(0, {y_len} * nf), j ->
           v[(j // {y_len}) * {f_len} + j % {y_len} + 1]) AS yl
  FROM (
    SELECT media_id, nf,
           list_transform(range(0, {f_len} * nf), i ->
             CASE WHEN i < n_bytes THEN ascii(substr(text, i + 1, 1))
                  ELSE 0 END) AS v
    FROM (
      SELECT doc_id AS media_id, COALESCE(text, '') AS text,
             octet_length(encode(COALESCE(text, ''))) AS n_bytes,
             greatest(octet_length(encode(COALESCE(text, ''))) // {f_len}, 1)
               AS nf
      FROM documents
      WHERE doc_id % 3 = {k}
    )
  )
)
"""


SQL_Y4M_CHROMA_DECODE = "\nUNION ALL\n".join(
    _y4m_branch_sql(k, chroma, c_len)
    for k, (chroma, c_len) in enumerate(_CHROMAS)
)

register(q_y4m_chroma_decode, SQL_Y4M_CHROMA_DECODE)
