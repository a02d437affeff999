"""Extended inventory XLVI — audio DSP lanes (round 9).

The audio stack so far decodes (WAV walk, FLAC), fingerprints, and
near-dups; what a speech/audio curation pipeline runs BETWEEN those is
sample-rate and loudness conditioning.  Two exact-integer lanes:

- ``q_audio_decimate``: decimate-by-2 with a box FIR (y[j] =
  floor((x[2j] + x[2j+1]) / 2)) — the 16 kHz → 8 kHz conditioning pass.
  Integer floor keeps the whole resample SQL-replayable; a real
  deployment swaps a polyphase FIR behind the same (rate/2, samples)
  contract.
- ``q_audio_normalize``: peak normalization to ±30000 — y = sign(x) ·
  ((|x| · 30000) // peak).  Magnitude-domain floor division keeps
  Python and DuckDB agreeing on negatives (their integer divisions
  disagree on sign, so the lane never divides a negative).

Both kernels run on numpy int64 inside one Arrow batch per partition —
decode, transform, and reduce without the samples ever leaving the
executor.  Oracles replay the WAV byte-pair sample rule and then the
transform itself, so the md5 pins every output sample.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import types as T

from .operators import multimodal
from .registry import register
from .tables import _t


_WAV_RATE = 16000

# the byte-pair sample replay shared by the WAV/FLAC family (ASCII
# driver docs: byte i == char i — the q_audio_energy_windows equivalence)
_SAMPLES_CTE = """
sized AS (
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
"""

_DSP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate_out", T.IntegerType(), True),
        T.StructField("n_in", T.LongType(), True),
        T.StructField("n_out", T.LongType(), True),
        T.StructField("sum_abs_out", T.LongType(), True),
        T.StructField("peak_abs_out", T.LongType(), True),
        T.StructField("out_md5", T.StringType(), True),
    ]
)


def _dsp_rows(transform):
    """Shared WAV-decode → numpy transform → exact-stats kernel."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, _, samples = multimodal.parse_wav(bytes(payload))
                except (ValueError, NotImplementedError, struct.error):
                    rows.append((mid,) + (None,) * 6)
                    continue
                x = np.asarray(samples, dtype=np.int64)
                rate_out, y = transform(rate, x)
                aabs = np.abs(y)
                rows.append(
                    (
                        mid,
                        rate_out,
                        len(x),
                        len(y),
                        int(aabs.sum()),
                        int(aabs.max()) if len(y) else 0,
                        hashlib.md5(
                            ",".join(str(int(v)) for v in y).encode()
                        ).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate_out",
                    "n_in",
                    "n_out",
                    "sum_abs_out",
                    "peak_abs_out",
                    "out_md5",
                ],
            )

    return run


def q_audio_decimate(spark, sf_dir):
    """Decimate-by-2 box FIR on real decoded WAV audio: y[j] =
    floor((x[2j] + x[2j+1]) / 2), output rate halved.  numpy floor
    division matches SQL floor(·/2.0) exactly on int64 sums."""

    def transform(rate, x):
        n2 = (len(x) // 2) * 2
        pairs = x[:n2].reshape(-1, 2)
        return rate // 2, pairs.sum(axis=1) // 2

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_wav(docs, sample_rate=_WAV_RATE)
    return media.select("media_id", "payload").mapInPandas(
        _dsp_rows(transform), _DSP_SCHEMA
    )


SQL_AUDIO_DECIMATE = f"""
WITH {_SAMPLES_CTE}, dec AS (
  SELECT media_id, n,
         list_transform(range(0, n // 2), j ->
           CAST(floor((samples[2 * j + 1] + samples[2 * j + 2]) / 2.0)
                AS BIGINT)) AS y
  FROM sampled
)
SELECT media_id,
       {_WAV_RATE // 2} AS sample_rate_out,
       CAST(n AS BIGINT) AS n_in,
       CAST(n // 2 AS BIGINT) AS n_out,
       CAST(COALESCE(list_sum(list_transform(y, v -> abs(v))), 0)
            AS BIGINT) AS sum_abs_out,
       CAST(COALESCE(list_max(list_transform(y, v -> abs(v))), 0)
            AS BIGINT) AS peak_abs_out,
       md5(COALESCE(array_to_string(y, ','), '')) AS out_md5
FROM dec
"""

register(q_audio_decimate, SQL_AUDIO_DECIMATE)


_NORM_PEAK = 30000


def q_audio_normalize(spark, sf_dir):
    """Peak normalization on real decoded WAV audio: y = sign(x) ·
    ((|x| · 30000) // peak), identity when the signal is silent.
    Magnitude-domain floor division — Python and DuckDB integer
    division agree on non-negative operands, so the oracle replays
    every sample despite their sign-handling differences."""

    def transform(rate, x):
        import numpy as np

        peak = int(np.abs(x).max()) if len(x) else 0
        if peak == 0:
            return rate, x
        q = (np.abs(x) * _NORM_PEAK) // peak
        return rate, np.where(x < 0, -q, q)

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_wav(docs, sample_rate=_WAV_RATE)
    return media.select("media_id", "payload").mapInPandas(
        _dsp_rows(transform), _DSP_SCHEMA
    )


SQL_AUDIO_NORMALIZE = f"""
WITH {_SAMPLES_CTE}, peaked AS (
  SELECT media_id, n, samples,
         COALESCE(list_max(list_transform(samples, s -> abs(s))), 0) AS peak
  FROM sampled
), norm AS (
  SELECT media_id, n, peak,
         CASE WHEN peak = 0 THEN list_transform(samples, s ->
                CAST(s AS BIGINT))
              ELSE list_transform(samples, s ->
                CAST(CASE WHEN s < 0 THEN -((abs(s) * {_NORM_PEAK}) // peak)
                          ELSE (s * {_NORM_PEAK}) // peak END AS BIGINT))
         END AS y
  FROM peaked
)
SELECT media_id,
       {_WAV_RATE} AS sample_rate_out,
       CAST(n AS BIGINT) AS n_in,
       CAST(n AS BIGINT) AS n_out,
       CAST(COALESCE(list_sum(list_transform(y, v -> abs(v))), 0)
            AS BIGINT) AS sum_abs_out,
       CAST(COALESCE(list_max(list_transform(y, v -> abs(v))), 0)
            AS BIGINT) AS peak_abs_out,
       md5(COALESCE(array_to_string(y, ','), '')) AS out_md5
FROM norm
"""

register(q_audio_normalize, SQL_AUDIO_NORMALIZE)
