"""End-to-end CLI job tests: the two reference Glue jobs as subprocesses.

This is the switch-over surface for a reference user — build the star from
a monthly drop, then load it into the warehouse, both via command line.
"""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "-m", *args],
        cwd=cwd,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_build_and_load_cli(spark):
    from glue_etl_nyc_yellow_taxi_analysis_spark.tables import _taxi_fixture

    work = tempfile.mkdtemp(prefix="sg_cli_")
    raw_dir = f"{work}/raw"
    _taxi_fixture(spark).coalesce(1).write.mode("overwrite").parquet(raw_dir)
    part = [f for f in os.listdir(raw_dir) if f.endswith(".parquet")][0]
    src = f"{work}/yellow_tripdata_2021-01.parquet"
    os.rename(f"{raw_dir}/{part}", src)

    # Job 1: build the star (year/month derived from the filename)
    r1 = _run(
        [
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.build_star",
            "--source", src,
            "--database", "sg_cli_db",
            "--warehouse-dir", f"{work}/wh",
        ],
        cwd=work,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "fact_uber_trips: 201 rows" in r1.stdout

    # Job 2: load dims + the month into a parquet warehouse
    r2 = _run(
        [
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.load_warehouse",
            "--database", "sg_cli_db",
            "--year", "2021",
            "--month", "1",
            "--warehouse-path", f"{work}/out_wh",
            "--warehouse-dir", f"{work}/wh",
        ],
        cwd=work,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "fact_uber_trips: appended 2021-1" in r2.stdout
    assert "dim_date: created" in r2.stdout
    assert os.path.isdir(f"{work}/out_wh/fact_uber_trips")


def test_reference_compat_tolls(spark):
    from glue_etl_nyc_yellow_taxi_analysis_spark.plans.star import build_fact
    from glue_etl_nyc_yellow_taxi_analysis_spark.tables import _taxi_fixture

    raw = _taxi_fixture(spark)
    normalized = build_fact(raw, "2021", "1")
    compat = build_fact(raw, "2021", "1", reference_compat=True)
    assert dict(normalized.dtypes)["tolls_amount"] == "float"
    assert dict(compat.dtypes)["tolls_amount"] == "double"  # reference quirk 6
