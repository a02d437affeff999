"""ext50 — ZIP shards, sitemap round trip, NFC normalization."""

import re
import unicodedata

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES
from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext50 import (
    q_sitemap_parse,
    q_unicode_normalize,
    q_zip_shard_roundtrip,
)


def test_zip_lane_matches_tar_lane_rows(spark, sf_dir):
    """The archive FORMAT must be invisible: ZIP shards (mixed
    stored/deflate) and tar shards decode to identical member rows."""
    zip_rows = sorted(
        map(tuple, q_zip_shard_roundtrip(spark, sf_dir).collect())
    )
    tar_rows = sorted(
        map(tuple, QUERIES["q_tar_shard_roundtrip"](spark, sf_dir).collect())
    )
    assert zip_rows == tar_rows


def test_zip_lane_plan_payload_never_crosses_exchange(spark, sf_dir):
    from test_plans import _plan

    plan = _plan(q_zip_shard_roundtrip(spark, sf_dir))
    assert plan.count("+- Exchange") <= 2  # input spread + shard grouping
    for m in re.finditer(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan
    ):
        assert "payload" not in m.group(1), m.group(1)


def test_sitemap_entries_complete_and_paired(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = q_sitemap_parse(spark, sf_dir).collect()
    assert len(rows) == docs.count()
    for r in rows[:50]:
        did = int(r["url"].rsplit("/", 1)[-1])
        assert r["host"] == f"m{did % 5}.example.org"
        assert r["lastmod"] == f"2021-01-{(did % 28) + 1:02d}"


def test_nfc_lane_matches_python_unicodedata(spark, sf_dir):
    """Independent replay of a sample of rows with unicodedata (the
    oracle uses DuckDB's ICU nfc_normalize — this pins the third
    implementation)."""
    import hashlib

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(40)
        .collect()
    }
    got = {
        r["doc_id"]: r
        for r in q_unicode_normalize(spark, sf_dir)
        .filter(F.col("doc_id").isin(list(docs)))
        .collect()
    }
    for did, text in docs.items():
        raw = (text or "").replace("e", "e\u0301")  # decomposed plant
        norm = unicodedata.normalize("NFC", raw)
        r = got[did]
        assert r["n_cp_raw"] == len(raw)
        assert r["n_cp_nfc"] == len(norm)
        assert r["changed"] == int(len(norm) < len(raw))
        assert r["nfc_md5"] == hashlib.md5(norm.encode()).hexdigest()
        if "e" in (text or ""):
            assert r["changed"] == 1  # the plant must actually fire


def test_pdf_lane_fail_soft_and_no_shuffle(spark, sf_dir):
    from test_plans import _plan
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext50 import (
        q_pdf_extract,
    )

    plan = _plan(q_pdf_extract(spark, sf_dir))
    # one fused map stage, zero shuffles beyond the input spread
    assert plan.count("+- Exchange") <= 1
    rows = q_pdf_extract(spark, sf_dir).collect()
    docs = dict(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    import math

    for r in rows[:50]:
        words = (docs[r["doc_id"]] or "").split(" ")
        assert r["n_pages"] == max(1, math.ceil(len(words) / 40))
        assert r["n_chars"] == len(docs[r["doc_id"]] or "")


def test_markdown_extraction_semantics(spark):
    """Row-level pins: fenced code and inline code must not leak, the
    image is dropped, the link keeps its TEXT, markers/emphasis strip,
    and the doc's own words survive."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import markdown as M

    df = spark.createDataFrame([(7, "alpha beta gamma")], ["doc_id", "text"])
    txt = df.select(
        M.extract_md_col(M.synth_md_col(F.col("doc_id"), F.col("text"))).alias("t")
    ).collect()[0]["t"]
    assert "alpha beta gamma" in txt
    assert "Doc 7" in txt and "bold7" in txt and "em" in txt
    assert "next page" in txt            # link text kept
    assert "example.org" not in txt      # link target dropped
    assert "alt text dropped" not in txt # image alt+target dropped
    assert "fenced code" not in txt and "inline code" not in txt
    assert "#" not in txt and "*" not in txt and ">" not in txt
    assert "  " not in txt and txt == txt.strip()


def test_sft_mask_semantics(spark):
    """Row-level pins on a hand-sized doc: alternating roles, assistant
    turns trainable, counts exact."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext50 import (
        q_sft_chat_mask,
    )

    # 35 words -> 3 turns (15/15/5): user, assistant, user
    text = " ".join(f"w{i}" for i in range(35))
    d = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    import tempfile

    sf = tempfile.mkdtemp(prefix="sg_sft_")
    d.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    r = q_sft_chat_mask(spark, sf).collect()[0]
    assert r["n_turns"] == 3
    assert r["n_tokens"] == (15 + 2) + (15 + 2) + (5 + 2)
    assert r["n_trainable"] == 15 + 2  # only the assistant middle turn
    assert r["trainable_ppm"] == (17 * 1000000) // 41
