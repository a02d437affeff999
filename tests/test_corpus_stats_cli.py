"""End-to-end statistics-release CLI: documents in → heavy-hitter file,
DP-noised language counts, persisted content Bloom index out, with the
terminal-state notification written.  Mirrors test_maintain_cli for the
sketch side."""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_corpus_stats_cli(spark, sf_dir, tmp_path):
    work = str(tmp_path)
    out = f"{work}/release"
    notify = f"{work}/state.jsonl"
    docs_path = f"{sf_dir}/documents.parquet"

    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.corpus_stats",
            "--docs", docs_path,
            "--output", out,
            "--topk", "15",
            "--eps", "1.0",
            "--notify-jsonl", notify,
        ],
        cwd=work,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    card_line = [l for l in r.stdout.splitlines() if l.startswith("stats card: ")][0]
    card = json.loads(card_line.removeprefix("stats card: "))
    docs = spark.read.parquet(docs_path)
    assert card["n_docs"] == docs.count()

    # heavy hitters: k rows, est dominates exact, top-1 is the true top-1
    hh = spark.read.parquet(f"{out}/heavy_hitters.parquet")
    rows = hh.orderBy(F.desc("est_n"), "token").collect()
    assert len(rows) == 15
    assert all(r.est_n >= r.exact_n for r in rows)
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import text

    exact_top = (
        docs.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .count()
        .orderBy(F.desc("count"), "token")
        .first()
    )
    assert rows[0].token == exact_top.token

    # DP release: one noisy row per language, each within Z of the true
    # count (the card keeps the true values; the release does not)
    noisy = {
        r.lang: r.noisy_n
        for r in spark.read.parquet(f"{out}/noisy_lang_counts.parquet").collect()
    }
    assert set(noisy) == set(card["true_lang_counts"])
    for lang, true_n in card["true_lang_counts"].items():
        assert abs(noisy[lang] - true_n) <= 32
    assert "true_n" not in spark.read.parquet(
        f"{out}/noisy_lang_counts.parquet"
    ).columns

    # standing bloom index: bounded, and probing TODAY's fingerprints
    # (the exact rows it was built from) hits every one — the
    # no-false-negative contract incremental admission relies on
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import sketches

    bloom = spark.read.parquet(f"{out}/doc_bloom.parquet")
    assert bloom.count() == card["bloom_words"] <= card["bloom_bits"] // 32
    fps = docs.select(
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp")
    ).distinct()
    probed = sketches.bloom_probe(fps, bloom, "fp", card["bloom_bits"], 3)
    assert probed.filter("NOT bloom_hit").count() == 0

    # notification seam: exactly one SUCCEEDED terminal state
    states = [json.loads(l) for l in open(notify)]
    assert [s["state"] for s in states] == ["SUCCEEDED"]
    assert states[0]["job"] == "corpus-stats"
