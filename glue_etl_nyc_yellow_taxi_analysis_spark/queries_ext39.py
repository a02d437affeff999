"""Extended inventory XXXIX — lossless PNG pipeline lanes (round 8).

``operators/png.py`` adds the LOSSLESS half of the compressed-image
story (``operators/jpeg.py`` being the lossy half).  Losslessness is
load-bearing for verification: decode(encode(raster)) == raster
byte-for-byte, so — unlike the JPEG lanes, whose oracles can only pin
geometry — every oracle here hash-verifies full pixel CONTENT through
deflate, adaptive per-row filtering (all five filter types on real
corpora) and, for every 3rd document, Adam7 interlace reassembly.

The three lanes each close a different verification gap:

* ``q_png_decode`` — encode → decode round trip; the oracle replays the
  planted raster (utf-8 bytes, zero-padded, 64-row cap) and pins the
  exact value sum + an md5 over the comma-joined pixel values.
* ``q_png_resize`` — encode → REAL nearest-neighbor resize (decode,
  integer index map, re-encode) → decode; the oracle replays the
  resample src = floor(dst·src/dst) in SQL, so the full two-pass codec
  pipeline is content-verified — the strongest resize oracle in the
  repo (the JPEG twin only pins dims).
* ``q_png_features`` — ``extract_features(fake_decode=False)`` over PNG
  payloads: the real magic-byte decode dispatch, previously reachable
  only through formats whose decoded values SQL can't see (JPEG) or
  that skip compression entirely (BMP/WAV).  PNG's decoded bytes ARE
  the raster bytes, so the exact-integer feat_ppm oracle replays the
  whole Arrow kernel through a compressed format.

Scale posture: identical to ext37 — one linear mapInPandas pass per
stage, embarrassingly parallel over documents, zero shuffle; payloads
never leave the executor that decodes them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import multimodal
from .paths import scratch
from .registry import register
from .tables import _t


_PW = 16  # raster width documents_as_png plants (JPEG-lane convention)

# byte p (0-based) of the utf-8 text, via the byte-safe hex idiom of
# SQL_MULTIMODAL_FEATURES; zero past n (the raster's padding)
_BYTE = "CASE WHEN {p} < n THEN ('0x' || substr(hx, ({p}) * 2 + 1, 2))::BIGINT ELSE 0 END"


def q_png_decode(spark, sf_dir):
    """Distributed lossless round trip: rasterize text → encode_png on
    executors (adaptive filters; every 3rd document Adam7 interlaced) →
    decode_png on executors → exact value sum + md5 over the
    comma-joined pixel stream.  A codec regression ANYWHERE — filter
    math, deflate framing, interlace lattice — flips sum_luma or
    pixels_md5 corpus-wide."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_png(d, width=_PW, interlace_every=3)
    return multimodal.decode_png(media)


SQL_PNG_DECODE = f"""
WITH sized AS (
  SELECT doc_id AS media_id,
         hex(encode(COALESCE(text, ''))) AS hx,
         octet_length(encode(COALESCE(text, ''))) AS n
  FROM documents
), shaped AS (
  SELECT media_id, hx, n,
         least(64, greatest(n // {_PW}, 1)) AS h
  FROM sized
), pix AS (
  SELECT media_id, h,
         list_transform(range(0, {_PW} * h), p -> {_BYTE.format(p="p")}) AS vals
  FROM shaped
)
SELECT media_id,
       CAST({_PW} AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(list_sum(vals) AS BIGINT) AS sum_luma,
       md5(array_to_string(vals, ',')) AS pixels_md5
FROM pix
"""

register(q_png_decode, SQL_PNG_DECODE)


_RS = 8  # thumbnail side (JPEG-lane convention)


def q_png_resize(spark, sf_dir):
    """The full image-prep pipeline, twice through the lossless codec:
    encode → real resize (decode → nearest-neighbor to 8×8 → re-encode
    as PNG, format-preserving) → decode.  Because every stage is
    lossless, the oracle replays the integer resample itself:
    out(y, x) = raster(floor(y·h/8)·16 + floor(x·16/8)) — full content
    verification through two encode/decode passes."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_png(d, width=_PW)
    resized = multimodal.resize_images(media, _RS, _RS, fake_decode=False)
    return multimodal.decode_png(resized)


# j-th output value (row-major, j in [0, 64)): dst (y, x) = (j//8, j%8),
# src index i = (y*h//8)*16 + (x*16//8)
SQL_PNG_RESIZE = f"""
WITH sized AS (
  SELECT doc_id AS media_id,
         hex(encode(COALESCE(text, ''))) AS hx,
         octet_length(encode(COALESCE(text, ''))) AS n
  FROM documents
), shaped AS (
  SELECT media_id, hx, n,
         least(64, greatest(n // {_PW}, 1)) AS h
  FROM sized
), pix AS (
  SELECT media_id,
         list_transform(range(0, {_RS} * {_RS}), j ->
           {_BYTE.format(p=f"(((j // {_RS}) * h) // {_RS}) * {_PW} + ((j % {_RS}) * {_PW}) // {_RS}")}
         ) AS vals
  FROM shaped
)
SELECT media_id,
       CAST({_RS} AS INTEGER) AS width,
       CAST({_RS} AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(list_sum(vals) AS BIGINT) AS sum_luma,
       md5(array_to_string(vals, ',')) AS pixels_md5
FROM pix
"""

register(q_png_resize, SQL_PNG_RESIZE)


def q_png_features(spark, sf_dir):
    """extract_features with the REAL decoder over compressed payloads:
    magic-byte dispatch → decode_png → per-stride means → exact-integer
    feat_ppm.  Decoded PNG bytes equal the planted raster bytes, so the
    oracle replays the Arrow kernel's IEEE op order term for term —
    n_bytes (the zlib-dependent container size) stays out of the
    projection, everything value-bearing is hash-pinned."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_png(d, width=_PW, interlace_every=3)
    feats = multimodal.extract_features(media, fake_decode=False)
    return feats.select(
        "media_id",
        F.size("feat_ppm").alias("n_features"),
        F.md5(
            F.concat_ws(
                ",", F.transform("feat_ppm", lambda v: v.cast("string"))
            )
        ).alias("features_md5"),
    )


_FD = multimodal.FEATURE_DIM

# stride d over the n_data = 16*h raster bytes; n_data is a multiple of
# FEATURE_DIM=8, so every stride has exactly 2*h elements (never empty)
SQL_PNG_FEATURES = f"""
WITH sized AS (
  SELECT doc_id AS media_id,
         hex(encode(COALESCE(text, ''))) AS hx,
         octet_length(encode(COALESCE(text, ''))) AS n
  FROM documents
), shaped AS (
  SELECT media_id, hx, n,
         {_PW} * least(64, greatest(n // {_PW}, 1)) AS n_data
  FROM sized
), f AS (
  SELECT media_id,
         list_transform(range(0, {_FD}), d ->
           CAST(floor(
             CAST(list_sum(list_transform(range(d, n_data, {_FD}), p ->
                 {_BYTE.format(p="p")})) AS DOUBLE)
             / len(range(d, n_data, {_FD})) * 1000000.0 + 0.5)
           AS BIGINT)) AS ppm
  FROM shaped
)
SELECT media_id,
       CAST(len(ppm) AS INTEGER) AS n_features,
       md5(array_to_string(ppm, ',')) AS features_md5
FROM f
"""

register(q_png_features, SQL_PNG_FEATURES)


def q_stream_png_ingest(spark, sf_dir):
    """Streaming media ingest: documents arrive as a file-source stream
    (two parquet shards, maxFilesPerTrigger=1 → ≥2 micro-batches) and
    BOTH codec passes run in-stream — rasterize+encode_png then
    decode_png are stateless Arrow mapInPandas stages, so append mode
    needs no watermark and no state store.  The drained sink must equal
    the batch lane q_png_decode row for row, so this lane shares its
    content-exact oracle VERBATIM — stream/batch equivalence verified
    through a compressed codec, which the JPEG lanes (geometry-only
    oracles) could not express.  Scale posture: per-batch linear codec
    work, zero shuffle, payload bytes never leave the decoding
    executor; the fixture shard write is an executor-side Spark write,
    not a driver loop."""
    from .streaming.ingest import drain, stream_files

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # content-sized source files (the r11 stream-source rule: file
    # count is the per-trigger parallelism; a fixed 2-file layout ran
    # ~1 task per micro-batch while per-doc work grew with the corpus
    # — q_stream_mp3_ingest measured 7.6x at 10x rows before the fix).
    # 500 docs/file, not the mp3 lane's 2500: this stream runs the
    # encode AND decode halves of a real compressed-image codec per
    # doc (~1 ms even after the r11 filter vectorization), so 2500-doc
    # files made each micro-batch one ~1.5 s single-task stage — the
    # per-file budget is per-doc codec cost, not a row-count convention
    n_files = max(2, -(-d.count() // 500))
    src_dir = scratch("sg_png_src_")
    d.repartition(n_files).write.mode("overwrite").parquet(src_dir)

    stream = stream_files(
        spark, src_dir, d.schema, max_files_per_trigger=max(1, n_files // 2)
    )
    decoded = multimodal.decode_png(
        multimodal.documents_as_png(stream, width=_PW, interlace_every=3)
    )
    return drain(decoded, "sg_stream_png_ingest")


register(q_stream_png_ingest, SQL_PNG_DECODE)
