"""Extended inventory XLV — FLAC compressed-audio lanes (round 9).

``operators/flac.py`` completes the real-codec stack's audio leg:
JPEG/PNG/GIF cover stills and the WAV walker covers uncompressed
containers, but until now nothing on the audio side actually
COMPRESSED.  The subset FLAC codec (fixed/LPC prediction, rice-coded
residuals, CRC-8/16 + STREAMINFO-MD5 triple integrity gate — public
spec, RFC 9639) makes decode(encode(pcm)) == pcm a meaningful content
oracle, the PNG/GIF discipline applied to audio.

Oracle strategy: the sample stream is documents_as_wav's byte-pair
rule VERBATIM, so both lanes share q_wav_decode's oracle — one SQL
replay pinning three independent audio paths (WAV container walk, FLAC
round trip, FLAC→WAV transcode).  A rice decoder that drops a
partition, an LPC reconstruction off by one shift, or a CRC gate that
lets a mangled frame through all fail the samples_md5, not a count.

Scale posture: linear Arrow-batched mapInPandas stages, zero shuffle,
payloads executor-local, per-row fail-soft; the libFLAC swap seam is
documented in flac.py's module docstring.
"""

from __future__ import annotations

from .operators import multimodal
from .queries_ext27 import SQL_WAV_DECODE, _WAV_RATE
from .registry import register
from .tables import _t


def q_flac_roundtrip(spark, sf_dir):
    """Compressed-audio round trip: text → int16 samples (the WAV
    byte-pair rule) → in-repo FLAC encode (fixed predictors, rice
    residuals) → full FLAC decode (frame sync, CRC-8/16, STREAMINFO
    MD5) → exact-integer sample stats.  Shares q_wav_decode's oracle
    verbatim — losslessness IS the contract."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_flac(docs, sample_rate=_WAV_RATE)
    return multimodal.decode_flac(media)


register(q_flac_roundtrip, SQL_WAV_DECODE)


def q_flac_transcode(spark, sf_dir):
    """The production transcode path: FLAC payloads decoded and
    re-containered as PCM16 WAV (parse_flac → wav_container), then
    pushed through the WAV lane's own decoder — the two codecs must
    compose on one (rate, channels, int16 samples) contract, and the
    result must be byte-identical to never having left WAV at all
    (same oracle verbatim)."""
    import struct
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .operators import flac as _flac

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_flac(docs, sample_rate=_WAV_RATE)

    def transcode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, nch, samples = _flac.parse_flac(bytes(payload))
                    pcm = struct.pack(f"<{len(samples)}h", *samples)
                    rows.append(
                        (mid, multimodal.wav_container(pcm, rate, nch))
                    )
                except (ValueError, NotImplementedError, struct.error):
                    rows.append((mid, None))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    wav = media.mapInPandas(transcode, schema)
    return multimodal.decode_wav(wav)


register(q_flac_transcode, SQL_WAV_DECODE)
