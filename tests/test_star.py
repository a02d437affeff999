"""Pipeline golden tests: full Job-1 equivalent on the deterministic fixture
(SURVEY §5.3) + partitioned-write pruning + idempotent dims."""


from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark import catalog
from glue_etl_nyc_yellow_taxi_analysis_spark.plans import star
from glue_etl_nyc_yellow_taxi_analysis_spark.tables import _taxi_fixture
from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import (
    write_partitioned_parquet,
)


def test_build_fact_golden(spark):
    raw = _taxi_fixture(spark)
    fact = star.build_fact(raw, "2021", "1")
    rows = fact.collect()
    # 200 base rows + 2 exact dups (dropped) + 7 edge rows (6 dropped, 1 kept)
    assert len(rows) == 201
    assert fact.columns == star.FACT_COLUMNS
    # uuid PK: unique and non-null
    ids = [r.trip_id for r in rows]
    assert len(set(ids)) == 201 and all(ids)
    # the kept Y-flag row carries the recode + airport fee
    y = [r for r in rows if r.store_and_fwd_flag == 1]
    assert len(y) == 1 and abs(y[0].airport_fee - 1.25) < 1e-6
    # all surviving rows satisfy the contract
    assert all(1 <= r.passenger_count <= 6 for r in rows)
    assert all(5.0 <= r.trip_distance <= 500.0 for r in rows)
    assert all(r.trip_duration_minutes < 1440 for r in rows)
    assert all(r.processed_year == "2021" and r.processed_month == "1" for r in rows)
    # surrogate keys well-formed
    assert all(len(r.tpep_pickup_date_id) == 8 for r in rows)
    assert all(len(r.tpep_pickup_time_id) == 6 for r in rows)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    out = str(tmp_path)
    write_partitioned_parquet(li, out, partition_by=["ship_year"])
    back = spark.read.parquet(out).filter(F.col("ship_year") == 1996)
    expected = li.filter(F.col("ship_year") == 1996).count()
    assert back.count() == expected > 0
    # physical proof of pruning: only the matching partition dir is scanned
    files = {r[0] for r in back.select(F.input_file_name()).distinct().collect()}
    assert all("ship_year=1996" in f for f in files)


def test_ensure_dimensions_idempotent(spark):
    db = "sg_test_dims"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)
    star.ensure_dimensions(spark, db)
    n1 = catalog.read_table(spark, db, "dim_date").count()
    star.ensure_dimensions(spark, db)  # second run: create-if-not-exists no-ops
    n2 = catalog.read_table(spark, db, "dim_date").count()
    assert n1 == n2 == 10_959
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
