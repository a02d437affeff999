"""Extended inventory XLII — GIF (LZW) codec lane (round 8).

``operators/gif.py`` completes the in-repo compression-family trio:
Huffman+DCT (JPEG, lossy), deflate+prediction filters (PNG, lossless),
and dictionary coding (LZW) — the third fundamentally different
entropy strategy binary media brings to a pipeline.

The verification design is the interesting part: because GIF is
lossless and ``documents_as_gif`` plants the SAME text raster as the
PNG lanes, ``q_gif_decode`` shares ``SQL_PNG_DECODE`` VERBATIM — one
content oracle (value sum + pixel md5 replayed positionally from
text) now pins two entirely different codecs.  A regression anywhere
in the LZW path — code-width handling, clear cadence, sub-block
framing, palette mapping — flips the shared hash corpus-wide, exactly
as a deflate/filter regression does for PNG.

Scale posture: identical to the other codec lanes — one linear
Arrow-batched mapInPandas pass per stage, embarrassingly parallel over
documents, zero shuffle; payloads never leave the encoding executor.
"""

from __future__ import annotations

from .operators import multimodal
from .queries_ext39 import _PW, SQL_PNG_DECODE
from .registry import register
from .tables import _t


def q_gif_decode(spark, sf_dir):
    """Distributed lossless LZW round trip: rasterize text → encode_gif
    on executors (identity-gray palette, 9-bit fixed-width LZW with the
    conservative clear cadence) → decode_gif on executors → exact value
    sum + md5 over the comma-joined pixel stream.  Shares the PNG
    lane's content oracle verbatim — losslessness makes the oracle
    codec-independent."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_gif(d, width=_PW)
    return multimodal.decode_gif(media)


register(q_gif_decode, SQL_PNG_DECODE)
