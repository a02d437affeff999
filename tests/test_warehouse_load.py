"""Job 2's load plan against one fresh embedded-Derby warehouse.

One catalog listing answers every existence question (no per-table
probe), and the fact month is appended only after every dimension is in.
"""

import shutil
from urllib.parse import urlparse

import duckdb
import pytest

from glue_etl_nyc_yellow_taxi_analysis_spark import catalog
from glue_etl_nyc_yellow_taxi_analysis_spark.plans import star, warehouse
from glue_etl_nyc_yellow_taxi_analysis_spark.queries import SQL_WAREHOUSE_LOAD_PLAN
from glue_etl_nyc_yellow_taxi_analysis_spark.sources.config import (
    drop_derby_memory_db,
    resolve_warehouse_config,
)
from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import JdbcWarehouse
from glue_etl_nyc_yellow_taxi_analysis_spark.tables import _taxi_fixture

DB = "sg_wh_load_test"


@pytest.fixture(scope="module")
def star_db(spark):
    """The Job-1 star (7 dims, fact month 2021-1) in a catalog database."""
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    wh_root = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh_root}/{DB}.db", ignore_errors=True)
    catalog.ensure_database(spark, DB)
    star.ensure_dimensions(spark, DB)
    catalog.save_table(
        star.build_fact(_taxi_fixture(spark), "2021", "1"), DB, "fact_uber_trips",
        partition_by=["processed_year", "processed_month"],
    )
    yield DB
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")


@pytest.fixture
def derby_wh(spark):
    url, props = resolve_warehouse_config()
    assert url.startswith("jdbc:derby:memory:")
    yield JdbcWarehouse(spark, url, props)
    drop_derby_memory_db(spark, url)


def _no_probe(self, table):
    raise AssertionError(f"per-table probe of {table}")


def test_load_lists_once_and_matches_oracle(spark, star_db, derby_wh, monkeypatch):
    monkeypatch.setattr(JdbcWarehouse, "table_exists", _no_probe)
    first = warehouse.load_star_to_warehouse(spark, derby_wh, star_db, "2021", "1")
    assert sorted(first.items()) == sorted(duckdb.sql(SQL_WAREHOUSE_LOAD_PLAN).fetchall())

    again = warehouse.load_star_to_warehouse(spark, derby_wh, star_db, "2021", "1")
    assert again == {
        **{t: "exists" for t in warehouse.DIM_TABLES},
        "fact_uber_trips": "skipped 2021-1 (already loaded)",
    }


def test_failed_dimension_create_leaves_no_fact(spark, star_db, derby_wh, monkeypatch):
    create = JdbcWarehouse.create

    def failing_create(self, df, table):
        if table == "dim_date":
            raise RuntimeError("dim_date create failed")
        create(self, df, table)

    monkeypatch.setattr(JdbcWarehouse, "create", failing_create)
    with pytest.raises(RuntimeError, match="dim_date create failed"):
        warehouse.load_star_to_warehouse(spark, derby_wh, star_db, "2021", "1")
    # the dims before dim_date were created, none after it, and no fact
    done = warehouse.DIM_TABLES[: warehouse.DIM_TABLES.index("dim_date")]
    assert derby_wh.list_tables() == {t.upper() for t in done}
