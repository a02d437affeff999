"""End-to-end corpus-curation CLI: the training-data pipeline as one job.

Mirrors test_jobs_cli for the LLM-corpus side: raw documents parquet in,
curated/split/sharded corpus out, removal accounting exact, notification
payload written.
"""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_curate_corpus_cli(spark, sf_dir, tmp_path):
    work = str(tmp_path)
    out = f"{work}/curated"
    notify = f"{work}/state.jsonl"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.curate_corpus",
            "--source", f"{sf_dir}/documents.parquet",
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

    card_line = [l for l in r.stdout.splitlines() if l.startswith("curation card: ")][0]
    card = json.loads(card_line.removeprefix("curation card: "))
    # accounting reconciles exactly
    assert (
        card["input_docs"]
        - card["removed_exact_dup"]
        - card["removed_near_dup"]
        - card["removed_quality"]
        == card["kept"]
    )
    assert card["kept"] == sum(card["splits"].values())
    assert card["removed_near_dup"] > 0  # the corpus has planted near-dups
    assert set(card["splits"]) <= {"train", "val", "test"}
    assert card["splits"]["train"] > card["splits"].get("val", 0)

    # terminal-state payload written
    payloads = [json.loads(l) for l in open(notify)]
    assert payloads[-1]["state"] == "SUCCEEDED"

    # output readable, partitioned by split, counts match the card
    got = spark.read.parquet(out)
    by_split = {r["split"]: r["n"] for r in got.groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert by_split == card["splits"]
    assert set(os.listdir(out)) >= {f"split={s}" for s in card["splits"]}
    # shards within range, every doc assigned
    import pyspark.sql.functions as F

    assert got.filter((F.col("shard") < 0) | (F.col("shard") >= 8)).count() == 0
