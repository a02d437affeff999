"""Media-curation CLI — the audio stack as one runnable job.

The query registry proves each audio operator alone (decode lanes,
conditioning, fingerprints, near-dup); this job composes them the way
a crawl's media bucket is actually processed, in one Spark session:

  1. sniff + decode — one Arrow pass routes each payload by magic
     (RIFF/WAVE → parse_wav, fLaC → parse_flac), normalizes everything
     to the one int16-scale contract — multichannel payloads are
     explicitly downmixed to mono (per-frame integer mean over the
     interleaved channels) BEFORE conditioning, never pair-averaged by
     the decimator — and re-containers as PCM16 WAV;
     corrupt/unknown payloads are COUNTED and dropped, never fatal
     (the 100 TB fail-soft posture).
  2. condition — decimate-by-2 box FIR, then peak-normalize to ±30000
     (the exact-integer transforms q_audio_decimate /
     q_audio_normalize pin), fused into the same kernel so no payload
     is decoded twice.
  3. fingerprint — band-energy delta-sign frame hashes over the
     conditioned audio (multimodal.audio_fingerprint) →
     ``fingerprints.parquet``.
  4. near-dup — w=4 shingles over the frame-hash sequence with the
     broadcast stop-shingle cap, exact integer-Jaccard verify
     (the q_audio_neardup tail) → ``neardup_pairs.parquet``.
  5. card + notify — exact accounting (containers by kind, corrupt
     rows, samples in/out, pair count) printed as one JSON line and
     pushed through the terminal-state seam.

Container-invariance is the job's correctness property: the same
signal arriving as WAV or as FLAC must produce the SAME fingerprint
row — the CLI test synthesizes both from one corpus and asserts it.

    python -m glue_etl_nyc_yellow_taxi_analysis_spark.jobs.process_media \\
        --media media.parquet --output ./out [--no-decimate] \\
        [--notify-jsonl state.jsonl]

(`--synth-from-docs docs.parquet` builds a mixed WAV/FLAC corpus from
a documents table — doc_id % 2 picks the container — for tests and
rehearsals without real media on disk.)
"""

from __future__ import annotations

import argparse
import json
import struct

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import multimodal
from ..operators.materialize import materialize
from ..session import get_spark
from .notify import JobNotifier, jsonl_sink, run_with_notification, stderr_sink

_RATE = 16000
_NORM_PEAK = 30000
_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),  # wav|flac|corrupt|unknown
        T.StructField("n_in", T.LongType(), True),
        T.StructField("n_out", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),  # conditioned PCM16 WAV
    ]
)


def synth_mixed_media(docs) -> "F.DataFrame":
    """Mixed-container corpus from a documents table: even doc_ids ship
    as WAV, odd as FLAC — SAME byte-pair sample rule, so every doc's
    signal is container-independent."""
    wav = multimodal.documents_as_wav(docs.filter("doc_id % 2 = 0"), sample_rate=_RATE)
    flac = multimodal.documents_as_flac(docs.filter("doc_id % 2 = 1"), sample_rate=_RATE)
    return wav.unionByName(flac)


def decode_and_condition(media, decimate: bool = True):
    """Sniff → decode → condition → re-container, one Arrow pass."""
    import numpy as np

    from ..operators import flac as _flac

    def row(mid, payload):
        raw = bytes(payload) if payload is not None else b""
        try:
            if raw[:4] == b"RIFF":
                kind = "wav"
                rate, nch, samples = multimodal.parse_wav(raw)
            elif raw[:4] == b"fLaC":
                kind = "flac"
                rate, nch, samples = _flac.parse_flac(raw)
            else:
                yield mid, "unknown", None, None, None
                return
        except multimodal._PARSE_ERRORS:
            yield mid, "corrupt", None, None, None
            return
        x = np.asarray(samples, dtype=np.int64)
        n_in = len(x)
        if nch > 1:
            # explicit downmix BEFORE decimation: the samples are
            # channel-interleaved, so letting the decimator
            # pair-average them would silently mangle stereo into
            # mono-at-half-rate; per-frame mean keeps rate intact
            nf = (len(x) // nch) * nch
            x = x[:nf].reshape(-1, nch).sum(axis=1) // nch
        if decimate:
            n2 = (n_in // 2) * 2
            x = x[:n2].reshape(-1, 2).sum(axis=1) // 2
            rate //= 2
        peak = int(np.abs(x).max()) if len(x) else 0
        if peak:
            q = (np.abs(x) * _NORM_PEAK) // peak
            x = np.where(x < 0, -q, q)
        pcm = struct.pack(f"<{len(x)}h", *(int(v) for v in x))
        yield mid, kind, n_in, len(x), multimodal.wav_container(pcm, rate)

    return multimodal._row_stage(media, multimodal._MEDIA_COLS, _DECODED_SCHEMA, row)


def process_media(
    spark,
    media,
    output: str,
    decimate: bool = True,
    frame_samples: int = 32,
    bands: int = 4,
) -> dict:
    """Run the pipeline; returns the accounting card."""
    from ..queries_ext41 import _shingle_pairs

    n_media = media.count()
    decoded = materialize(
        decode_and_condition(media, decimate=decimate),
        "decoded media: the kind counts, totals and dedup read it",
    )

    kind_counts = {
        r["kind"]: r["n"]
        for r in decoded.groupBy("kind").agg(F.count("*").alias("n")).collect()
    }  # bounded: 4 kinds
    good = decoded.filter(F.col("payload").isNotNull())
    totals = good.agg(
        F.sum("n_in").alias("in"), F.sum("n_out").alias("out")
    ).collect()[0]

    fp = multimodal.audio_fingerprint(
        good, frame_samples=frame_samples, bands=bands
    )
    fp.write.mode("overwrite").parquet(f"{output}/fingerprints.parquet")
    fp_n = spark.read.parquet(f"{output}/fingerprints.parquet").count()

    fh = multimodal.audio_frame_hashes(
        good, frame_samples=frame_samples, bands=bands
    )
    pairs = _shingle_pairs(fh)
    pairs.write.mode("overwrite").parquet(f"{output}/neardup_pairs.parquet")
    n_pairs = spark.read.parquet(f"{output}/neardup_pairs.parquet").count()

    card = {
        "n_media": n_media,
        "containers": kind_counts,
        "decoded": int(kind_counts.get("wav", 0) + kind_counts.get("flac", 0)),
        "samples_in": int(totals["in"] or 0),
        "samples_out": int(totals["out"] or 0),
        "decimated": decimate,
        "n_fingerprints": fp_n,
        "n_neardup_pairs": n_pairs,
    }
    print("media card: " + json.dumps(card, sort_keys=True))
    return card


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="audio media curation pass")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--media", help="parquet with (media_id, payload)")
    src.add_argument(
        "--synth-from-docs",
        help="documents parquet: synthesize a mixed WAV/FLAC corpus",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--no-decimate", action="store_true")
    p.add_argument("--notify-jsonl", default=None)
    args = p.parse_args(argv)

    notifier = JobNotifier([stderr_sink])
    if args.notify_jsonl:
        notifier.add(jsonl_sink(args.notify_jsonl))

    def _run() -> dict:
        spark = get_spark(app_name="process-media")
        if args.media:
            media = spark.read.parquet(args.media)
        else:
            docs = spark.read.parquet(args.synth_from_docs)
            media = synth_mixed_media(docs)
        return process_media(
            spark, media, args.output, decimate=not args.no_decimate
        )

    run_with_notification("process-media", _run, notifier)


if __name__ == "__main__":
    main()
