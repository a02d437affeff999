"""The fused Y4M build→decode pass must be value-identical to the
two-stage documents_as_y4m → decode_y4m chain, and the vectorized
per-row reductions must replay the original per-byte Python loops
bit-for-bit (sums exact, md5 over the same decimal-joined string)."""

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glue_etl_nyc_yellow_taxi_analysis_spark.operators import multimodal as mm

_TEXTS = [
    None,
    "",
    "a",
    "x" * 23,
    "y" * 24,
    "z" * 100,
    "frame one frame two frame three and some tail bytes here",
    "ünïcode – text with € symbols and ✓ marks spanning frames",
    "\x00\x01\x02" * 40,
]


def _reference_stats(payload: bytes):
    """The pre-r12 per-byte reduction loops, verbatim."""
    try:
        w, h, frames = mm.parse_y4m(bytes(payload))
    except (ValueError, NotImplementedError):
        return None
    ys = [fr[0] for fr in frames]
    diff = sum(
        abs(a - b)
        for prev, cur in zip(ys, ys[1:])
        for a, b in zip(prev, cur)
    )
    all_y = b"".join(ys)
    return (
        w, h, len(frames),
        sum(all_y),
        sum(b for fr in frames for b in fr[1]),
        sum(b for fr in frames for b in fr[2]),
        diff,
        hashlib.md5(",".join(str(b) for b in all_y).encode()).hexdigest(),
    )


@pytest.mark.parametrize("chroma", ["420jpeg", "422", "444", "mono"])
def test_vectorized_stats_match_reference_loops(chroma):
    y_len, c_len = mm._y4m_plane_lens(6, 4, chroma)
    flen = y_len + 2 * c_len
    for text in _TEXTS:
        b = ("" if text is None else text).encode("utf-8")
        n = max(1, len(b) // flen)
        raw = b[: flen * n].ljust(flen * n, b"\x00")
        frames = [raw[f * flen : (f + 1) * flen] for f in range(n)]
        params = tuple((i, b" Xodd") for i in range(1, n, 2))
        payload = mm.y4m_container(frames, 6, 4, params, chroma)
        assert mm._y4m_stats_row(payload) == _reference_stats(payload)


def test_stats_row_fail_soft_on_garbage():
    assert mm._y4m_stats_row(b"not a stream") is None
    assert mm._y4m_stats_row(b"YUV4MPEG2 W6 H4 C422\nFRAM") is None


def test_fused_matches_two_stage_chain(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXTS)], "doc_id long, text string"
    )
    for chroma in ("420jpeg", "444"):
        # a Spark-side select between the stages drops the stage tag, so
        # this chain runs UNFUSED — the pre-fusion reference behavior
        two_stage = sorted(
            map(
                tuple,
                mm.decode_y4m(
                    mm.documents_as_y4m(docs, width=6, height=4, chroma=chroma)
                    .select("media_id", "payload")
                ).collect(),
            )
        )
        fused = sorted(
            map(
                tuple,
                mm.y4m_roundtrip_stats(docs, width=6, height=4, chroma=chroma)
                .drop("chroma")
                .collect(),
            )
        )
        assert fused == two_stage


def test_auto_fusion_collapses_chain_to_one_python_stage(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXTS)], "doc_id long, text string"
    )
    chained = mm.decode_y4m(mm.documents_as_y4m(docs, width=6, height=4))
    plan = chained._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    # ... and a JVM boundary between stages keeps them separate
    staged = mm.decode_y4m(
        mm.documents_as_y4m(docs, width=6, height=4).select("media_id", "payload")
    )
    plan2 = staged._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("MapInPandas") == 2, plan2
    assert sorted(map(tuple, chained.collect())) == sorted(
        map(tuple, staged.collect())
    )


def test_fusion_rejects_a_column_the_parent_never_produced(spark):
    """frame_sample yields no ``payload``: a fused decode_wav would read
    it by name on the executor (KeyError at the first action), so the
    stage must stack instead and Spark must reject the plan when it is
    built."""
    from pyspark.errors import AnalysisException

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXTS)], "doc_id long, text string"
    )
    framed = mm.frame_sample(mm.documents_as_media(docs))
    with pytest.raises(AnalysisException):
        mm.decode_wav(framed)


def test_auto_fusion_three_stage_jpeg_roundtrip(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXTS) if t], "doc_id long, text string"
    )
    fused3 = mm.decode_jpeg(
        mm.resize_images(
            mm.documents_as_jpeg(docs, width=16), 8, 8, fake_decode=False
        )
    )
    plan = fused3._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    unfused = mm.decode_jpeg(
        mm.resize_images(
            mm.documents_as_jpeg(docs, width=16).select("media_id", "payload"),
            8, 8, fake_decode=False,
        ).select("media_id", "payload")
    )
    assert sorted(map(tuple, fused3.collect())) == sorted(
        map(tuple, unfused.collect())
    )


def test_fused_chroma_mod_matches_filtered_branches(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXTS)], "doc_id long, text string"
    )
    from pyspark.sql import functions as F

    tags = ("422", "444", "mono")
    expected = []
    for k, chroma in enumerate(tags):
        rows = mm.decode_y4m(
            mm.documents_as_y4m(
                docs.filter(F.col("doc_id") % 3 == k),
                width=6, height=4, chroma=chroma,
            )
        ).collect()
        expected.extend((r["media_id"], chroma) + tuple(r)[1:] for r in rows)
    fused = [
        tuple(r)
        for r in mm.y4m_roundtrip_stats(
            docs, width=6, height=4, chroma_mod=tags
        ).collect()
    ]
    assert sorted(fused) == sorted(expected)
