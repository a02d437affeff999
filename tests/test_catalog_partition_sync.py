"""Partition-level catalog sync across sessions (S7 nuance, VERDICT r3 #8).

The reference's catalog-updating sink registers each written partition in
the Glue Data Catalog as the job writes it (enableUpdateCatalog +
partitionKeys, DM:359-370), so a LATER job/session sees exactly the
partitions written so far — no MSCK REPAIR step.  Here the same contract
is carried by ``save_table`` over a Hive(Derby) metastore: each subprocess
below is a genuinely fresh session (new JVM, new catalog client) against
the same warehouse + metastore directory.

Three-step probe:
  1. write ONE partition (2021/1) via save_table,
  2. a fresh session lists exactly that partition, reads its rows, then
     appends a second partition (2021/2) through the dynamic-overwrite
     path,
  3. another fresh session sees both partitions and partition 1's rows
     untouched (dynamic overwrite replaced only the partitions present in
     the incoming frame).
"""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_COMMON = """
import sys
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark
from glue_etl_nyc_yellow_taxi_analysis_spark.catalog import (
    ensure_database, save_table,
)
spark = get_spark(app_name="cat_sync", cpus=4, shuffle_partitions=4,
                  warehouse_dir=sys.argv[1], hive=True)
"""

_STEP1 = _COMMON + """
df = spark.range(0, 10).selectExpr(
    "id", "'a' AS payload", "2021 AS year", "1 AS month")
ensure_database(spark, "sg_sync_db")
save_table(df, "sg_sync_db", "part_sync", partition_by=["year", "month"])
print("WROTE1", spark.table("sg_sync_db.part_sync").count())
spark.stop()
"""

_STEP2 = _COMMON + """
parts = sorted(r[0] for r in
               spark.sql("SHOW PARTITIONS sg_sync_db.part_sync").collect())
print("PARTS1", parts)
print("CNT1", spark.table("sg_sync_db.part_sync")
      .where("year = 2021 AND month = 1").count())
df2 = spark.range(0, 5).selectExpr(
    "id + 100 AS id", "'b' AS payload", "2021 AS year", "2 AS month")
save_table(df2, "sg_sync_db", "part_sync", partition_by=["year", "month"])
print("WROTE2")
spark.stop()
"""

_STEP3 = _COMMON + """
parts = sorted(r[0] for r in
               spark.sql("SHOW PARTITIONS sg_sync_db.part_sync").collect())
print("PARTS2", parts)
print("CNT_M1", spark.table("sg_sync_db.part_sync")
      .where("year = 2021 AND month = 1").count())
print("CNT_M2", spark.table("sg_sync_db.part_sync")
      .where("year = 2021 AND month = 2").count())
spark.stop()
"""


def _run(script: str, work: str) -> str:
    r = subprocess.run(
        [sys.executable, "-c", script, f"{work}/wh"],
        cwd=work,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "4"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout


def test_partition_catalog_sync_across_sessions(tmp_path):
    work = str(tmp_path)

    out1 = _run(_STEP1, work)
    assert "WROTE1 10" in out1

    out2 = _run(_STEP2, work)
    assert "PARTS1 ['year=2021/month=1']" in out2  # exactly the one written
    assert "CNT1 10" in out2
    assert "WROTE2" in out2

    out3 = _run(_STEP3, work)
    assert "PARTS2 ['year=2021/month=1', 'year=2021/month=2']" in out3
    assert "CNT_M1 10" in out3  # dynamic overwrite left partition 1 alone
    assert "CNT_M2 5" in out3
