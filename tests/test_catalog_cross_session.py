"""Catalog persistence ACROSS SparkSessions — the Glue-Data-Catalog
semantics the reference relies on (etl-glue-nyc-yellow-data-model.py
registers tables one job writes, etl-glue-load-to-postgres.py:68-70
reads them back in a DIFFERENT job via create_data_frame.from_catalog).

The in-session catalog tests (test_catalog_partition_sync.py) cannot
prove this: a session catalog dies with the session.  Here each
"job" is a separate subprocess (own JVM, own SparkContext) sharing only
a Hive-metastore Derby directory + warehouse dir — job B must see the
tables job A registered, with partition pruning intact.
"""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.warehouse.dir", {wh!r})
    .config("spark.sql.catalogImplementation", "hive")
    .config(
        "javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=" + {ms!r} + ";create=true",
    )
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
"""


def _run(body, tmp_path, wh, ms):
    script = _PRELUDE.format(repo=REPO, wh=wh, ms=ms) + textwrap.dedent(body)
    return subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,  # derby.log + any metastore droppings stay here
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_second_session_sees_catalog_tables(sf_dir, tmp_path):
    wh = f"{tmp_path}/warehouse"
    ms = f"{tmp_path}/metastore_db"

    # job A: register a partitioned fact + a dim through catalog.py,
    # then STOP — nothing survives but the metastore + warehouse dirs
    a = _run(
        f"""
        import pyspark.sql.functions as F
        from glue_etl_nyc_yellow_taxi_analysis_spark import catalog

        li = spark.read.parquet({sf_dir!r} + "/lineitem.parquet")
        fact = li.withColumn("ship_year", F.year("l_shipdate").cast("int"))
        catalog.ensure_database(spark, "xdb")
        catalog.save_table(fact, "xdb", "fact_li", partition_by=["ship_year"])
        nation = spark.read.parquet({sf_dir!r} + "/nation.parquet")
        assert catalog.create_table_if_not_exists(spark, lambda s: nation, "xdb", "dim_nation")
        print("A_ROWS", fact.count())
        spark.stop()
        """,
        tmp_path,
        wh,
        ms,
    )
    assert a.returncode == 0, a.stderr[-3000:]
    n_rows = int(
        [l for l in a.stdout.splitlines() if l.startswith("A_ROWS")][0].split()[1]
    )

    # job B: a FRESH JVM + session over the same metastore must see both
    # tables, read identical row counts, and prune partitions on read
    b = _run(
        f"""
        from glue_etl_nyc_yellow_taxi_analysis_spark import catalog

        assert catalog.table_exists(spark, "xdb", "fact_li")
        assert catalog.table_exists(spark, "xdb", "dim_nation")
        fact = catalog.read_table(spark, "xdb", "fact_li")
        print("B_ROWS", fact.count())
        one_year = fact.filter("ship_year = 1996")
        import io, contextlib
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            one_year.explain(mode="formatted")
        txt = buf.getvalue()
        # partition pruning reaches the scan: the filter appears as a
        # partition filter, not a post-scan row filter
        assert "ship_year" in txt, txt
        print("B_PRUNED", one_year.count())
        print("B_NATIONS", catalog.read_table(spark, "xdb", "dim_nation").count())
        spark.stop()
        """,
        tmp_path,
        wh,
        ms,
    )
    assert b.returncode == 0, b.stderr[-3000:]
    out = dict(
        l.split() for l in b.stdout.splitlines() if l.startswith("B_")
    )
    assert int(out["B_ROWS"]) == n_rows
    assert 0 < int(out["B_PRUNED"]) < n_rows
    assert int(out["B_NATIONS"]) == 25

    # job C: incremental dynamic-partition overwrite from a third
    # session only replaces the partitions it carries (the monthly
    # ingest contract), with the baseline written by a DIFFERENT job
    c = _run(
        f"""
        import pyspark.sql.functions as F
        from glue_etl_nyc_yellow_taxi_analysis_spark import catalog

        li = spark.read.parquet({sf_dir!r} + "/lineitem.parquet")
        fact = li.withColumn("ship_year", F.year("l_shipdate").cast("int"))
        one = fact.filter("ship_year = 1996").limit(10)
        catalog.save_table(one, "xdb", "fact_li", partition_by=["ship_year"])
        got = catalog.read_table(spark, "xdb", "fact_li")
        print("C_1996", got.filter("ship_year = 1996").count())
        print("C_OTHER", got.filter("ship_year <> 1996").count())
        spark.stop()
        """,
        tmp_path,
        wh,
        ms,
    )
    assert c.returncode == 0, c.stderr[-3000:]
    out = dict(
        l.split() for l in c.stdout.splitlines() if l.startswith("C_")
    )
    assert int(out["C_1996"]) == 10  # only 1996 was replaced
    assert int(out["C_OTHER"]) > 0  # other years survived the overwrite
