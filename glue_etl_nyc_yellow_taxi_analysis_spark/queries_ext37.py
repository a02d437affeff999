"""Extended inventory XXXVII — real-JPEG pipeline lanes (round 8).

``operators/jpeg.py`` closed the compressed-image seam with an in-repo
T.81 baseline codec.  These lanes run the FULL codec distributed — every
document's text rasterized, Huffman/FDCT-encoded, then decoded (and for
the resize lane re-sampled + re-encoded + re-decoded) inside Arrow
``mapInPandas`` kernels on the executors.

What the DuckDB oracle can and cannot check here: a SQL engine cannot
replay Huffman entropy coding + IDCT, so the PIXEL values are pinned by
hand-constructed spec streams in tests/test_jpeg_codec.py (decoder-only
evidence, independent of the encoder).  What SQL *can* express — and
what these oracles hash-exactly verify — is the geometry contract of
the whole distributed round trip: every payload must decode (a single
bit error in the entropy stream kills a block or the whole scan), with
exactly the width/height/channels the source text implies.  A codec
regression that flips any coefficient path to "corrupt" fails the
``decoded`` flag; one that mis-tiles MCUs fails the dims.

Scale posture: one linear mapInPandas pass per stage, no shuffle at all
(the lanes are embarrassingly parallel over documents); payload bytes
never leave the executor that decodes them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import multimodal
from .registry import register
from .tables import _t


_JW = 16  # raster width documents_as_jpeg plants


def q_jpeg_decode(spark, sf_dir):
    """Distributed JPEG round trip: rasterize text → encode_baseline on
    executors → decode_jpeg on executors; output the geometry + a
    decoded flag per media.  Every 3rd document is encoded PROGRESSIVE
    (SOF2 multi-scan, r8) — pixels and therefore the oracle are
    identical, so a progressive-path regression fails this lane's
    decoded flag corpus-wide.  See module docstring for what the oracle
    pins vs the spec-stream tests."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_jpeg(d, width=_JW, progressive_every=3)
    return multimodal.decode_jpeg(media).select(
        "media_id",
        "width",
        "height",
        "n_channels",
        F.col("pixels_md5").isNotNull().alias("decoded"),
    )


SQL_JPEG_DECODE = f"""
SELECT doc_id AS media_id,
       CAST({_JW} AS INTEGER) AS width,
       CAST(LEAST(64, GREATEST(1, octet_length(encode(text)) // {_JW}))
            AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       TRUE AS decoded
FROM documents
"""

register(q_jpeg_decode, SQL_JPEG_DECODE)


_RS = 8  # thumbnail side


def q_jpeg_resize(spark, sf_dir):
    """The full image-prep pipeline, twice through the codec: encode →
    real resize (decode → integer nearest-neighbor to 8×8 → re-encode)
    → decode again.  Every stage is executor-side; the oracle pins that
    every document survives both codec passes at exactly the target
    geometry.  Pixel values are codec-defined (not SQL-expressible), so
    they stay out of the output — the spec-stream tests own them."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_jpeg(d, width=_JW)
    resized = multimodal.resize_images(media, _RS, _RS, fake_decode=False)
    return multimodal.decode_jpeg(resized).select(
        "media_id",
        "width",
        "height",
        F.col("pixels_md5").isNotNull().alias("decoded"),
    )


SQL_JPEG_RESIZE = f"""
SELECT doc_id AS media_id,
       CAST({_RS} AS INTEGER) AS width,
       CAST({_RS} AS INTEGER) AS height,
       TRUE AS decoded
FROM documents
"""

register(q_jpeg_resize, SQL_JPEG_RESIZE)
