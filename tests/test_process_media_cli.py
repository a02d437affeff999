"""End-to-end media-curation CLI: mixed WAV/FLAC corpus in →
fingerprints + near-dup pairs + accounting card out, with the
terminal-state notification written.  The load-bearing property is
container invariance: the same signal must fingerprint identically
whether it arrived as WAV or FLAC."""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.jobs.process_media import (
    decode_and_condition,
    synth_mixed_media,
)
from glue_etl_nyc_yellow_taxi_analysis_spark.operators import multimodal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_process_media_cli(spark, sf_dir, tmp_path):
    work = str(tmp_path)
    out = f"{work}/out"
    notify = f"{work}/state.jsonl"
    docs_path = f"{sf_dir}/documents.parquet"

    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.process_media",
            "--synth-from-docs", docs_path,
            "--output", out,
            "--notify-jsonl", notify,
        ],
        cwd=work,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    card_line = [
        l for l in r.stdout.splitlines() if l.startswith("media card: ")
    ][0]
    card = json.loads(card_line.removeprefix("media card: "))
    docs = spark.read.parquet(docs_path)
    n = docs.count()
    n_even = docs.filter("doc_id % 2 = 0").count()
    assert card["n_media"] == n
    assert card["containers"] == {"wav": n_even, "flac": n - n_even}
    assert card["decoded"] == n
    # decimate-by-2 halves the sample count (floor per doc)
    assert card["samples_out"] <= card["samples_in"] // 2
    assert card["n_fingerprints"] == n

    fp = spark.read.parquet(f"{out}/fingerprints.parquet")
    assert fp.count() == n
    assert spark.read.parquet(f"{out}/neardup_pairs.parquet").columns

    state = [json.loads(l) for l in open(notify)]
    assert state[-1]["state"] == "SUCCEEDED"
    assert state[-1]["job"] == "process-media"


def test_container_invariance_and_fail_soft(spark, sf_dir):
    """One corpus encoded BOTH ways must fingerprint identically row
    for row; junk payloads are accounted, never fatal."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)

    as_wav = multimodal.documents_as_wav(docs, sample_rate=16000)
    as_flac = multimodal.documents_as_flac(docs, sample_rate=16000)

    def fps(media):
        good = decode_and_condition(media).filter(
            F.col("payload").isNotNull()
        )
        return {
            r["media_id"]: (r["n_samples"], r["fp_md5"])
            for r in multimodal.audio_fingerprint(good).collect()
        }

    assert fps(as_wav) == fps(as_flac)

    # fail-soft: junk and truncated payloads are counted, not fatal
    junk = spark.createDataFrame(
        [
            (9001, bytearray(b"MP3\x00not really")),
            (9002, bytearray(multimodal.wav_container(b"ab" * 8)[:-3])),
        ],
        "media_id long, payload binary",
    )
    kinds = {
        r["media_id"]: r["kind"]
        for r in decode_and_condition(as_wav.unionByName(junk))
        .select("media_id", "kind")
        .collect()
    }
    assert kinds[9001] == "unknown"
    assert kinds[9002] == "corrupt"
    assert sum(1 for k in kinds.values() if k == "wav") == 40


def test_mixed_synth_sniffs_by_magic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = synth_mixed_media(docs)
    kinds = {
        r["media_id"]: r["kind"]
        for r in decode_and_condition(media).collect()
    }
    for mid, kind in kinds.items():
        assert kind == ("wav" if mid % 2 == 0 else "flac"), (mid, kind)


def test_stereo_downmixes_before_conditioning(spark):
    """A stereo payload must be explicitly downmixed (per-frame integer
    mean over interleaved channels) BEFORE decimation — equivalent to
    conditioning the pre-downmixed mono signal, never pair-averaged
    into mono-at-half-rate by the decimator (round-9 advice)."""
    import struct as _struct

    lr = [(i * 211 % 2003 - 1001, i * 157 % 1999 - 999) for i in range(64)]
    stereo_pcm = b"".join(_struct.pack("<hh", l, r) for l, r in lr)
    # integer mean with Python floor semantics == numpy sum // 2
    mono_pcm = b"".join(_struct.pack("<h", (l + r) // 2) for l, r in lr)
    media = spark.createDataFrame(
        [
            (1, bytearray(multimodal.wav_container(stereo_pcm, 16000, n_channels=2))),
            (2, bytearray(multimodal.wav_container(mono_pcm, 16000))),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_and_condition(media).collect()}
    assert rows[1]["kind"] == "wav"
    # same conditioned bytes as the hand-downmixed mono twin
    assert bytes(rows[1]["payload"]) == bytes(rows[2]["payload"])
    assert rows[1]["n_out"] == rows[2]["n_out"]
