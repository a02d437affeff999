"""ext46 — audio DSP conditioning lanes (decimate, peak-normalize).

Replays are INDEPENDENT implementations (pure-Python sample math over
hand-built documents), never the production kernels — including the
sign cases where floor vs truncate division diverge.
"""

import hashlib
import math

from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext46 import (
    _NORM_PEAK,
    q_audio_decimate,
    q_audio_normalize,
)


def _py_samples(text: str) -> list[int]:
    """The WAV byte-pair rule, independently: sample k = int16 LE of
    (b[2k], b[2k+1] XOR 0x80 when k odd)."""
    b = text.encode()
    out = []
    for k in range(len(b) // 2):
        hi = b[2 * k + 1] ^ (0x80 if k % 2 else 0)
        v = b[2 * k] | (hi << 8)
        out.append(v - 65536 if v >= 32768 else v)
    return out


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )


def _run(q, spark, texts, tmp_path):
    """Lanes read {sf_dir}/documents.parquet — plant one."""
    d = str(tmp_path / "sf")
    _mk_docs(spark, texts).write.parquet(f"{d}/documents.parquet")
    return {r["media_id"]: r for r in q(spark, d).collect()}


def test_decimate_matches_independent_replay(spark, tmp_path):
    texts = ["abcdefgh", "xy", "", "The quick brown fox jumps over it"]
    got = _run(q_audio_decimate, spark, texts, tmp_path)
    for i, t in enumerate(texts):
        x = _py_samples(t)
        y = [
            math.floor((x[2 * j] + x[2 * j + 1]) / 2)
            for j in range(len(x) // 2)
        ]
        r = got[i]
        assert r["sample_rate_out"] == 8000
        assert (r["n_in"], r["n_out"]) == (len(x), len(y))
        assert r["sum_abs_out"] == sum(abs(v) for v in y)
        assert r["out_md5"] == hashlib.md5(
            ",".join(map(str, y)).encode()
        ).hexdigest()


def test_decimate_floor_on_negative_sums(spark, tmp_path):
    """Odd samples carry the XOR'd sign bit, so pairs can sum negative
    and ODD — floor(-n/2) != -(n//2) territory."""
    # "a\x00b\x00": s0 = 0x61, s1 = 0x62 - 32768 (odd-k XOR sets the
    # sign bit) -> pair sum -32573: negative AND odd.
    texts = ["a\x00b\x00" * 3]
    got = _run(q_audio_decimate, spark, texts, tmp_path)
    x = _py_samples(texts[0])
    assert any((a + b) < 0 and (a + b) % 2 for a, b in zip(x[::2], x[1::2]))
    y = [math.floor((a + b) / 2) for a, b in zip(x[::2], x[1::2])]
    assert got[0]["sum_abs_out"] == sum(abs(v) for v in y)


def test_normalize_matches_independent_replay(spark, tmp_path):
    texts = ["abcdefgh", "silence?"[:0], "Zz" * 40, "n\xf0rmalize me"]
    got = _run(q_audio_normalize, spark, texts, tmp_path)
    for i, t in enumerate(texts):
        x = _py_samples(t)
        peak = max((abs(v) for v in x), default=0)
        if peak == 0:
            y = x
        else:
            y = [
                (abs(v) * _NORM_PEAK // peak) * (-1 if v < 0 else 1)
                for v in x
            ]
        r = got[i]
        assert r["peak_abs_out"] == (max((abs(v) for v in y), default=0))
        assert r["out_md5"] == hashlib.md5(
            ",".join(map(str, y)).encode()
        ).hexdigest()
        if peak:
            assert r["peak_abs_out"] == _NORM_PEAK


def test_normalize_silent_passthrough(spark, tmp_path):
    """All-zero samples must pass through unscaled.  One NUL byte pair
    only: ODD samples get their high byte XOR 0x80, so longer NUL runs
    are NOT silent (sample 1 decodes to -32768)."""
    texts = ["\x00\x00"]
    got = _run(q_audio_normalize, spark, texts, tmp_path)
    assert got[0]["peak_abs_out"] == 0
    assert got[0]["n_out"] == 1
    assert got[0]["out_md5"] == hashlib.md5(b"0").hexdigest()


def test_r9_media_lanes_never_shuffle_payloads(spark, sf_dir):
    """Every round-9 codec/DSP lane is encode->decode maps only: the
    binary payload must never cross an Exchange (at 100 TB a shuffled
    media column IS the bottleneck), and no lane may introduce a KEYED
    shuffle at all — the only Exchange allowed is the round-robin
    spread of the tiny (doc_id, text) scan before encoding, which a
    parallel parquet source wouldn't need."""
    import re

    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES

    from test_plans import _plan

    for name in (
        "q_wav_formats",
        "q_bmp_palette_decode",
        "q_y4m_chroma_decode",
        "q_flac_roundtrip",
        "q_flac_transcode",
        "q_audio_decimate",
        "q_audio_normalize",
    ):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "hashpartitioning" not in plan, f"{name} keyed-shuffles"
        for m in re.finditer(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan
        ):
            assert "payload" not in m.group(1), (
                f"{name} shuffles the payload: {m.group(1)}"
            )
