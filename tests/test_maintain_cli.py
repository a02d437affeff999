"""End-to-end lake-maintenance CLI: fragmented parquet in, compacted +
Z-ordered + bucket-registered output, accounting card exact, notification
payload written.  Mirrors test_curate_cli for the layout side (r5 verdict
item 6)."""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.operators import layout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_maintain_layout_cli(spark, tmp_path):
    work = str(tmp_path)
    src = f"{work}/fragmented"
    out = f"{work}/maintained"
    notify = f"{work}/state.jsonl"

    # hostile layout: 64 tiny files, rows arriving in id order so neither
    # column is clustered on disk
    df = spark.range(400_000).select(
        F.col("id").alias("row_id"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("user_id"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100000)) / 100).alias("amount"),
    )
    df.repartition(64).write.mode("overwrite").parquet(src)
    n_in = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_in == 64

    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.maintain_layout",
            "--source", src,
            "--output", out,
            "--target-file-mb", "1",
            "--zorder", "user_id,amount",
            "--bucket-table", "sg_maintain_db.events_bucketed",
            "--bucket-cols", "user_id",
            "--buckets", "4",
            "--sort-cols", "user_id",
            "--notify-jsonl", notify,
        ],
        cwd=work,  # Derby metastore + warehouse land in the scratch dir
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    card_line = [l for l in r.stdout.splitlines() if l.startswith("layout card: ")][0]
    card = json.loads(card_line.removeprefix("layout card: "))
    assert card["rows"] == 400_000
    assert card["files_in"] == 64
    assert card["files_out"] < card["files_in"]  # compaction happened
    assert card["zorder_cols"] == ["user_id", "amount"]
    assert card["bucket_table"] == "sg_maintain_db.events_bucketed"

    # row bag unchanged (maintenance is layout-only)
    got = spark.read.parquet(out)
    assert got.count() == 400_000
    assert got.exceptAll(df).count() == 0
    assert df.exceptAll(got).count() == 0

    # clustering quality: with >=4 Z-ordered files, every file's footer
    # min/max span on EACH clustered column is a fraction of the global
    # range — that narrowness is exactly what makes scans prune files
    # (mean, not worst: a file straddling a high-bit morton boundary can
    # legitimately span a full column range; the AVERAGE narrowness is
    # what drives pruning, and the unclustered input's mean is ~1.0)
    stats = layout.file_stats(out, ["user_id", "amount"])
    assert card["files_out"] == len(stats) >= 4
    for col, lo, hi in (("user_id", 0, 999), ("amount", 0.0, 999.99)):
        span = hi - lo
        fracs = [(s[f"{col}_max"] - s[f"{col}_min"]) / span for s in stats]
        assert sum(fracs) / len(fracs) <= 0.8, (col, fracs)
        assert min(fracs) <= 0.55, (col, fracs)

    # terminal-state payload written
    payloads = [json.loads(l) for l in open(notify)]
    assert payloads[-1]["state"] == "SUCCEEDED"
    assert payloads[-1]["job"] == "maintain-layout"


def test_maintain_layout_cli_failure_notifies(spark, tmp_path):
    """A bad invocation must exit non-zero AND write a FAILED payload —
    the exit-code + notification contract schedulers depend on."""
    work = str(tmp_path)
    notify = f"{work}/state.jsonl"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.maintain_layout",
            "--source", f"{work}/does_not_exist",
            "--output", f"{work}/out",
            "--notify-jsonl", notify,
        ],
        cwd=work,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "4"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode != 0
    payloads = [json.loads(l) for l in open(notify)]
    assert payloads[-1]["state"] == "FAILED"
