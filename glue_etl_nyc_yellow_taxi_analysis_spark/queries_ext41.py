"""Extended inventory XLI — audio fingerprint near-dup (round 8).

The dedup stack covers text five ways (MinHash / SimHash / exact-substr
/ containment / embedding) and images one way (blockhash, ext23) — the
audio leg was missing.  ``multimodal.audio_frame_hashes`` adds the
Chromaprint-family recipe in its integer-exact form: decode PCM16 with
the REAL WAV parser, frame the samples (32/frame), sum s² per band
(4 bands × 8 samples), and hash each frame as the 4-bit pattern of
band-energy DELTAS versus the previous frame — deltas, not levels, so
the fingerprint tracks spectral-envelope motion and is gain-invariant.

Near-dup matching then rides the repo's standard shingle discipline:
w=4 consecutive frame hashes join a candidate pair, a broadcast
stop-shingle cap (df > 50) removes degenerate hot keys (silence /
constant-energy runs — the all-zero-delta shingle would otherwise
candidate-join quadratically), and Jaccard over the kept shingle sets
verifies.  Same plan shape as SimHash banding / n-gram Jaccard: no
corpus × corpus join, candidates bounded by shingle buckets.

Both lanes are exact-integer end to end (energies, hashes, shingle
strings, capped counts, ×1000 Jaccard in integer division), so the
full Python DSP path — container walk, int16 sign handling, numpy
band fold, delta thresholding, shingle join — is value-hash verified
by a DuckDB replay of the same bytes (positional ascii() replay: valid
because driver testdata docs are ASCII, the q_wav_decode convention;
excluded from hostile-corpus gates like every codec oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import multimodal
from .operators.materialize import materialize
from .paths import scratch
from .registry import register
from .tables import _t


_AF_FRAME = 32  # samples per frame (64 text bytes)
_AF_BANDS = 4  # bands per frame -> 4-bit frame hash
_AF_W = 4  # shingle width, in consecutive frame hashes
_AF_DFCAP = 50  # drop shingles present in more than this many docs
_AF_MIN_SHARED = 2  # pairs must share at least this many kept shingles

# the q_wav_decode positional sample replay (ASCII docs: byte i = char i)
_WAV_SAMPLES_CTE = """
WITH sized AS (
  SELECT doc_id AS media_id, COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
), sampled AS MATERIALIZED (
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
)"""

# flat (frame, band) energy grid + delta frame hashes.  Energies are
# STAGED as a list column once (the HOF-CSE lesson: folds bind the
# projected list, never recompute it), indexed e = t*bands + b.
_BW = _AF_FRAME // _AF_BANDS
_WAV_HASHES_CTE = f""", en AS MATERIALIZED (
  SELECT media_id, n // {_AF_FRAME} AS n_frames,
         list_transform(range(0, (n // {_AF_FRAME}) * {_AF_BANDS}), e ->
           list_sum(list_transform(
             range((e // {_AF_BANDS}) * {_AF_FRAME}
                       + (e % {_AF_BANDS}) * {_BW} + 1,
                   (e // {_AF_BANDS}) * {_AF_FRAME}
                       + ((e % {_AF_BANDS}) + 1) * {_BW} + 1),
             i -> CAST(samples[i] AS BIGINT) * samples[i]))) AS energies
  FROM sampled
), fhs AS MATERIALIZED (
  SELECT media_id, n_frames,
         list_transform(range(1, n_frames), t ->
           CAST(list_sum(list_transform(range(0, {_AF_BANDS}), b ->
             CASE WHEN energies[t * {_AF_BANDS} + b + 1]
                       > energies[(t - 1) * {_AF_BANDS} + b + 1]
                  THEN (1 << b) ELSE 0 END)) AS INTEGER)) AS hs
  FROM en
)"""


def q_audio_fingerprint(spark, sf_dir):
    """Per-document audio fingerprint summary over real WAV decode:
    sample count, frame count, delta-hash count, and an md5 over the
    comma-joined frame-hash sequence — the per-item artifact an audio
    curation stack indexes.  One Arrow-batched linear pass (numpy band
    fold inside mapInPandas), zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_wav(docs)
    return multimodal.audio_fingerprint(
        media, frame_samples=_AF_FRAME, bands=_AF_BANDS
    )


SQL_AUDIO_FINGERPRINT = (
    _WAV_SAMPLES_CTE
    + _WAV_HASHES_CTE
    + f"""
SELECT media_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(greatest(n_frames - 1, 0) AS INTEGER) AS n_hashes,
       md5(COALESCE(array_to_string(hs, ','), '')) AS fp_md5
FROM fhs JOIN sampled USING (media_id)
"""
)

register(q_audio_fingerprint, SQL_AUDIO_FINGERPRINT)


def _shingle_pairs(fh):
    """Shared near-dup tail over a (media_id, t, fh) frame-hash frame:
    order-assemble the hash sequence, shingle w consecutive hashes,
    drop hot shingles (df > cap) via a broadcast anti-join, join
    candidates on shared shingles, verify by exact integer Jaccard.
    Used by both the audio and video lanes — the modality only changes
    how frame hashes are produced."""
    seq = (
        fh.groupBy("media_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", "fh"))).alias("seq"))
        .select(
            "media_id",
            F.transform("seq", lambda s: s.getField("fh")).alias("hs"),
        )
        .filter(F.size("hs") >= _AF_W)
    )
    shingles = seq.select(
        "media_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(hs) - {_AF_W}), i -> "
                    f"array_join(transform(slice(hs, i + 1, {_AF_W}), "
                    "h -> cast(h as string)), '-'))"
                )
            )
        ).alias("sh"),
    )
    # stop-shingle cap: the hot set is tiny by construction — broadcast
    # anti-join, so the corpus side never shuffles on the hot keys
    hot = (
        shingles.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _AF_DFCAP)
        .select("sh")
    )
    kept = materialize(
        shingles.join(F.broadcast(hot), "sh", "left_anti"),
        "kept shingles: read by the size table and both self-join sides",
    )
    sizes = kept.groupBy("media_id").agg(F.count(F.lit(1)).alias("nsh"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= _AF_MIN_SHARED)
    )
    return (
        pairs.join(sizes.withColumnRenamed("media_id", "id_a"), "id_a")
        .withColumnRenamed("nsh", "n_a")
        .join(sizes.withColumnRenamed("media_id", "id_b"), "id_b")
        .withColumnRenamed("nsh", "n_b")
        .select(
            "id_a",
            "id_b",
            F.col("shared").cast("bigint").alias("shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("(shared * 1000) div (n_a + n_b - shared)")
            .cast("bigint")
            .alias("jac_x1000"),
        )
    )


# the SQL twin of _shingle_pairs, appended after a CTE chain that ends
# with fhs(media_id, ..., hs)
_SHINGLE_SQL = f""", sh AS MATERIALIZED (
  SELECT DISTINCT media_id,
         array_to_string(hs[i + 1 : i + {_AF_W}], '-') AS sh
  FROM fhs, unnest(range(0, len(hs) - {_AF_W - 1})) AS t(i)
  WHERE len(hs) >= {_AF_W}
), hot AS (
  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > {_AF_DFCAP}
), kept AS MATERIALIZED (
  SELECT s.media_id, s.sh
  FROM sh s LEFT JOIN hot h ON s.sh = h.sh
  WHERE h.sh IS NULL
), sizes AS (
  SELECT media_id, COUNT(*) AS nsh FROM kept GROUP BY media_id
), pairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b, COUNT(*) AS shared
  FROM kept a JOIN kept b
    ON a.sh = b.sh AND a.media_id < b.media_id
  GROUP BY a.media_id, b.media_id
  HAVING COUNT(*) >= {_AF_MIN_SHARED}
)
SELECT id_a, id_b,
       CAST(shared AS BIGINT) AS shared,
       CAST(sa.nsh AS BIGINT) AS n_a,
       CAST(sb.nsh AS BIGINT) AS n_b,
       CAST(shared * 1000 // (sa.nsh + sb.nsh - shared) AS BIGINT)
           AS jac_x1000
FROM pairs
JOIN sizes sa ON id_a = sa.media_id
JOIN sizes sb ON id_b = sb.media_id
"""


def q_audio_neardup(spark, sf_dir):
    """Audio near-dup pairs: shingle the frame-hash sequence (w=4),
    drop hot shingles by document frequency (df > 50 — silence and
    constant-energy runs would otherwise candidate-join every pair of
    long docs), join candidates on shared shingles, verify by exact
    integer Jaccard over the kept shingle sets.  Identical scale shape
    to the text n-gram Jaccard lane: candidates are bucket-bounded, the
    hot-set is a broadcast anti-join, never corpus × corpus."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_wav(docs)
    fh = multimodal.audio_frame_hashes(
        media, frame_samples=_AF_FRAME, bands=_AF_BANDS
    )
    return _shingle_pairs(fh)


SQL_AUDIO_NEARDUP = _WAV_SAMPLES_CTE + _WAV_HASHES_CTE + _SHINGLE_SQL

register(q_audio_neardup, SQL_AUDIO_NEARDUP)


def q_stream_audio_fingerprint(spark, sf_dir):
    """Streaming twin of q_audio_fingerprint: the WAV synth + real
    decode + band-energy-delta hash run per micro-batch over a file
    stream (2 parquet shards, maxFilesPerTrigger=1, availableNow).
    Both mapInPandas stages are stateless, so append mode needs no
    watermark and no state store, and the drained sink must equal the
    batch lane row for row — this lane shares its oracle VERBATIM,
    extending the stream/batch-equivalence family from codecs (PNG) to
    the audio DSP path.  Scale posture: per-batch linear kernel work,
    zero shuffle; payloads never leave the decoding executor."""
    from .streaming.ingest import drain, stream_files

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # content-sized source files (the r11 stream-source rule: file
    # count is the per-trigger parallelism; a fixed 2-file layout ran
    # ~1 task per micro-batch while per-doc work grew with the corpus
    # — q_stream_mp3_ingest measured 7.6x at 10x rows before the fix)
    n_files = max(2, -(-d.count() // 2500))
    src_dir = scratch("sg_afp_src_")
    d.repartition(n_files).write.mode("overwrite").parquet(src_dir)

    stream = stream_files(
        spark, src_dir, d.schema, max_files_per_trigger=max(1, n_files // 2)
    )
    fp = multimodal.audio_fingerprint(
        multimodal.documents_as_wav(stream),
        frame_samples=_AF_FRAME,
        bands=_AF_BANDS,
    )
    return drain(fp, "sg_stream_audio_fingerprint")


register(q_stream_audio_fingerprint, SQL_AUDIO_FINGERPRINT)


# --------------------------------------------------------------------------
# Video fingerprint near-dup — completes the four-modality dedup family
# --------------------------------------------------------------------------

_VF_W, _VF_H = 6, 4
_VF_LUMA = _VF_W * _VF_H                              # 24 luma bytes/frame
_VF_FRAME_BYTES = _VF_LUMA + 2 * (_VF_W // 2) * (_VF_H // 2)  # 36
_VF_BW = _VF_LUMA // _AF_BANDS                        # 6 bytes/quadrant


def q_video_neardup(spark, sf_dir):
    """Video near-dup pairs: decode Y4M with the real stream walker,
    hash each frame as the 4-bit pattern of luma-QUADRANT energy deltas
    versus the previous frame (brightness-scale invariant, the video
    analogue of the audio gain invariance), then the shared shingle
    tail — w=4 hash shingles, broadcast stop-shingle cap, exact integer
    Jaccard.  With this lane the near-dup family covers all four
    modalities: text (MinHash/SimHash/…), image (blockhash), audio
    (band-energy deltas), video (this).  Same bounded scale shape:
    linear Arrow decode, bucket-bounded candidates, never corpus ×
    corpus."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_y4m(docs, width=_VF_W, height=_VF_H)
    fh = multimodal.video_frame_hashes(
        media, luma_per_frame=_VF_LUMA, bands=_AF_BANDS
    )
    return _shingle_pairs(fh)


# Frame f's luma bytes are text[36f + 0 : 36f + 24) zero-padded past the
# text (the SQL_Y4M_DECODE plane replay); energies reuse the audio
# grid template over luma SQUARES, indexed e = t*bands + b.
_Y4M_LUMA_CTE = f"""
WITH sized AS (
  SELECT doc_id AS media_id, COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM sized_src
), shaped AS (
  SELECT media_id, text, n_bytes,
         greatest(n_bytes // {_VF_FRAME_BYTES}, 1) AS nf
  FROM sized
), luma AS MATERIALIZED (
  SELECT media_id, nf,
         list_transform(range(0, {_VF_LUMA} * nf), j ->
           CASE WHEN (j // {_VF_LUMA}) * {_VF_FRAME_BYTES}
                     + j % {_VF_LUMA} < n_bytes
                THEN ascii(substr(text,
                       (j // {_VF_LUMA}) * {_VF_FRAME_BYTES}
                       + j % {_VF_LUMA} + 1, 1))
                ELSE 0 END) AS yl
  FROM shaped
), en AS MATERIALIZED (
  SELECT media_id, nf AS n_frames,
         list_transform(range(0, nf * {_AF_BANDS}), e ->
           list_sum(list_transform(
             range((e // {_AF_BANDS}) * {_VF_LUMA}
                       + (e % {_AF_BANDS}) * {_VF_BW} + 1,
                   (e // {_AF_BANDS}) * {_VF_LUMA}
                       + ((e % {_AF_BANDS}) + 1) * {_VF_BW} + 1),
             j -> CAST(yl[j] AS BIGINT) * yl[j]))) AS energies
  FROM luma
), fhs AS MATERIALIZED (
  SELECT media_id, n_frames,
         list_transform(range(1, n_frames), t ->
           CAST(list_sum(list_transform(range(0, {_AF_BANDS}), b ->
             CASE WHEN energies[t * {_AF_BANDS} + b + 1]
                       > energies[(t - 1) * {_AF_BANDS} + b + 1]
                  THEN (1 << b) ELSE 0 END)) AS INTEGER)) AS hs
  FROM en
)"""

SQL_VIDEO_NEARDUP = (
    _Y4M_LUMA_CTE.replace("FROM sized_src", "FROM documents") + _SHINGLE_SQL
)

register(q_video_neardup, SQL_VIDEO_NEARDUP)
