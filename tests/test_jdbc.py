"""JDBC source/sink — the reference's Job-2 surface, tested end-to-end.

The reference loads the star into PostgreSQL over JDBC
(glue_job_scripts/etl-glue-load-to-postgres.py:40-92, vendored
postgresql-42.7.7.jar).  No Postgres exists in CI, but Spark ships Derby:
the embedded driver exercises the identical DataFrameReader/Writer JDBC
code path — connection handling, type mapping, pushdown, partitioned
parallel reads — against a real SQL database.
"""

import pytest

pytestmark = pytest.mark.slow  # multi-session e2e; excluded from the driver-window run

import os
import subprocess
import sys
import tempfile

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def _props():
    return {"driver": DERBY}


def test_jdbc_roundtrip_and_pushdown(spark, sf_dir):
    db = tempfile.mkdtemp(prefix="sg_jdbc_") + "/db"
    url = f"jdbc:derby:{db};create=true"
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.write.jdbc(url, "orders_t", properties=_props())

    back = spark.read.jdbc(url, "orders_t", properties=_props())
    assert back.count() == o.count()
    assert o.subtract(back).count() == 0 and back.subtract(o).count() == 0

    # filter pushdown: the predicate must reach the JDBC scan (at scale
    # this is the DB doing the filtering, not Spark pulling the table)
    q = back.filter(F.col("o_orderstatus") == "P").select("o_orderkey")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1][:200]


def test_jdbc_partitioned_parallel_read(spark, sf_dir):
    db = tempfile.mkdtemp(prefix="sg_jdbc_") + "/db"
    url = f"jdbc:derby:{db};create=true"
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    o.write.jdbc(url, "orders_t", properties=_props())
    hi = o.agg(F.max("o_orderkey")).first()[0]

    # the scale-critical JDBC read: split the table into N range-bounded
    # queries so N executors pull in parallel (a single-connection read of
    # a big table is the classic Job-2 bottleneck)
    part = spark.read.jdbc(
        url,
        "orders_t",
        column="o_orderkey",
        lowerBound=1,
        upperBound=int(hi) + 1,
        numPartitions=4,
        properties=_props(),
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == o.count()
    assert part.subtract(o).count() == 0


def test_jdbc_warehouse_load_cli(spark):
    """Job 1 (build star) then Job 2 with --jdbc-url against embedded
    Derby — the reference's exact two-job chain, warehouse included."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.tables import _taxi_fixture

    work = tempfile.mkdtemp(prefix="sg_jdbc_cli_")
    raw_dir = f"{work}/raw"
    _taxi_fixture(spark).coalesce(1).write.mode("overwrite").parquet(raw_dir)
    part = [f for f in os.listdir(raw_dir) if f.endswith(".parquet")][0]
    src = f"{work}/yellow_tripdata_2021-01.parquet"
    os.rename(f"{raw_dir}/{part}", src)

    def run(args):
        return subprocess.run(
            [sys.executable, "-m", *args],
            cwd=work,
            env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
            capture_output=True,
            text=True,
            timeout=300,
        )

    r1 = run(
        [
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.build_star",
            "--source", src,
            "--database", "sg_jdbc_db",
            "--warehouse-dir", f"{work}/wh",
        ]
    )
    assert r1.returncode == 0, r1.stderr[-2000:]

    url = f"jdbc:derby:{work}/warehouse_db;create=true"
    r2 = run(
        [
            "glue_etl_nyc_yellow_taxi_analysis_spark.jobs.load_warehouse",
            "--database", "sg_jdbc_db",
            "--year", "2021",
            "--month", "1",
            "--jdbc-url", url,
            "--jdbc-driver", DERBY,
            "--warehouse-dir", f"{work}/wh",
        ]
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "fact_uber_trips" in r2.stdout

    # the subprocess released the embedded lock on exit; read back here
    fact = spark.read.jdbc(url, "fact_uber_trips", properties=_props())
    assert fact.count() == 201
    dim = spark.read.jdbc(url, "dim_payment_type", properties=_props())
    assert dim.count() > 0


def test_warehouse_config_seam(monkeypatch, tmp_path):
    """Job-2 bootstrap resolution order: config file > env > Derby default
    (reference fetches credentials at runtime, PG:22-45)."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources import config as C

    monkeypatch.delenv("SG_WH_CONFIG", raising=False)
    monkeypatch.delenv("SG_WH_URL", raising=False)
    url, props = C.resolve_warehouse_config()
    assert url.startswith("jdbc:derby:memory:") and ";create=true" in url
    assert props["driver"] == C.DERBY_DRIVER

    monkeypatch.setenv("SG_WH_URL", "jdbc:postgresql://h:5432/db")
    monkeypatch.setenv("SG_WH_USER", "u")
    monkeypatch.setenv("SG_WH_PASSWORD", "s3cret")
    url, props = C.resolve_warehouse_config()
    assert url == "jdbc:postgresql://h:5432/db"
    assert props == {"user": "u", "password": "s3cret"}
    assert "s3cret" not in C.describe(url, props)

    cfg = tmp_path / "wh.json"
    cfg.write_text(
        '{"url": "jdbc:postgresql://other/db2", "properties": {"user": "x"}}'
    )
    monkeypatch.setenv("SG_WH_CONFIG", str(cfg))
    url, props = C.resolve_warehouse_config()
    assert url == "jdbc:postgresql://other/db2" and props == {"user": "x"}


def test_jdbc_warehouse_probe_create_append(spark, sf_dir):
    """The Warehouse interface against real JDBC: zero-row existence probe
    (PG:62-67), first-time create (PG:71), incremental append (PG:86-88)."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.config import (
        drop_derby_memory_db,
        resolve_warehouse_config,
    )
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import JdbcWarehouse

    url, props = resolve_warehouse_config()
    assert url.startswith("jdbc:derby:memory:")
    wh = JdbcWarehouse(spark, url, props)
    try:
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        assert not wh.table_exists("dim_nation")
        wh.create(n, "dim_nation")
        assert wh.table_exists("dim_nation")
        wh.append(n, "dim_nation")
        assert wh.read(spark, "dim_nation").count() == 2 * n.count()
    finally:
        drop_derby_memory_db(spark, url)


def test_jdbc_incremental_monthly_load(spark):
    """Job 2's monthly path on ONE Derby warehouse with the defaults:
    month 1 then month 2 append, and a re-run of month 1 is skipped by
    the ``skip_if_loaded`` probe, which filters the warehouse fact on
    its string partition columns (CLOB on Derby would reject it with
    SQLState 42818)."""
    import shutil
    from urllib.parse import urlparse

    from glue_etl_nyc_yellow_taxi_analysis_spark import catalog
    from glue_etl_nyc_yellow_taxi_analysis_spark.plans import star, warehouse
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.config import (
        drop_derby_memory_db,
        resolve_warehouse_config,
    )
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import JdbcWarehouse
    from glue_etl_nyc_yellow_taxi_analysis_spark.tables import _taxi_fixture

    db = "sg_jdbc_incremental"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh_root = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh_root}/{db}.db", ignore_errors=True)
    catalog.ensure_database(spark, db)
    star.ensure_dimensions(spark, db)
    raw = _taxi_fixture(spark)
    for month in ("1", "2"):
        catalog.save_table(
            star.build_fact(raw, "2021", month), db, "fact_uber_trips",
            partition_by=["processed_year", "processed_month"],
        )

    url, props = resolve_warehouse_config()
    wh = JdbcWarehouse(spark, url, props)
    try:
        actions = [
            warehouse.load_star_to_warehouse(spark, wh, db, "2021", m)["fact_uber_trips"]
            for m in ("1", "2", "1")
        ]
        assert actions == [
            "appended 2021-1",
            "appended 2021-2",
            "skipped 2021-1 (already loaded)",
        ]
        fact = wh.read(spark, "fact_uber_trips")
        assert fact.count() == spark.table(f"{db}.fact_uber_trips").count()
    finally:
        drop_derby_memory_db(spark, url)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_dialect_gated_catalog_probe_sql(spark):
    """The config seam provably emits the reference's Postgres probe SQL
    (etl-glue-load-to-postgres.py:62-66) while Derby executes in-sandbox:
    both dialects' probe strings are asserted, plus the generic fallback."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import JdbcWarehouse

    pg = JdbcWarehouse(spark, "jdbc:postgresql://host:5432/nyc")
    assert pg.catalog_probe_sql("dim_vendors") == (
        "(SELECT tablename FROM pg_catalog.pg_tables "
        "WHERE schemaname = 'public' AND tablename = 'dim_vendors')"
    )
    derby = JdbcWarehouse(spark, "jdbc:derby:memory:x;create=true")
    assert derby.catalog_probe_sql("dim_vendors") == (
        "(SELECT TABLENAME FROM SYS.SYSTABLES "
        "WHERE TABLETYPE = 'T' AND TABLENAME = 'DIM_VENDORS')"
    )
    assert JdbcWarehouse(spark, "jdbc:mysql://h/db").catalog_probe_sql("t") is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pg.catalog_probe_sql("t'; DROP TABLE x --")


def test_dialect_gated_catalog_list_sql(spark):
    """One listing per load: the reference's pg_catalog.pg_tables probe
    without its per-table predicate, Derby's SYS.SYSTABLES, no listing for
    an unknown dialect; catalog names are uppercase on Derby only."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import JdbcWarehouse

    pg = JdbcWarehouse(spark, "jdbc:postgresql://host:5432/nyc")
    assert pg.catalog_list_sql() == (
        "(SELECT tablename FROM pg_catalog.pg_tables WHERE schemaname = 'public')"
    )
    assert pg.catalog_name("dim_vendors") == "dim_vendors"
    derby = JdbcWarehouse(spark, "jdbc:derby:memory:x;create=true")
    assert derby.catalog_list_sql() == (
        "(SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T')"
    )
    assert derby.catalog_name("dim_vendors") == "DIM_VENDORS"
    generic = JdbcWarehouse(spark, "jdbc:mysql://h/db")
    assert generic.catalog_list_sql() is None and generic.list_tables() is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pg.catalog_list_sql("public'; DROP TABLE x --")
