"""End-to-end incremental ingest: files arrive → star fact appears in the
catalog, month-partitioned; re-delivering a month replaces (not duplicates)
its partition; a newly arriving month is picked up from the checkpoint."""

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark import catalog
from glue_etl_nyc_yellow_taxi_analysis_spark.tables import _taxi_fixture
from glue_etl_nyc_yellow_taxi_analysis_spark.streaming.ingest import monthly_star_ingest


def test_monthly_star_ingest_end_to_end(spark, tmp_path):
    db = "sg_test_stream_star"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)

    raw = _taxi_fixture(spark)
    (tmp_path / "src").mkdir()
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def drop_month(df, name):
        tmp = str(tmp_path / f"tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.copy(f"{tmp}/{part}", f"{src}/{name}")

    # month 1 arrives
    drop_month(raw, "yellow_tripdata_2021-01.parquet")
    q = monthly_star_ingest(spark, src, db, raw.schema, ckpt)
    q.awaitTermination()
    fact = catalog.read_table(spark, db, "fact_uber_trips")
    assert fact.filter("processed_month = '1'").count() == 201

    # month 2 arrives later: checkpoint resumes, month 1 untouched
    drop_month(raw.withColumn(
        "tpep_pickup_datetime", F.col("tpep_pickup_datetime") + F.expr("interval 31 days")
    ).withColumn(
        "tpep_dropoff_datetime", F.col("tpep_dropoff_datetime") + F.expr("interval 31 days")
    ), "yellow_tripdata_2021-02.parquet")
    q = monthly_star_ingest(spark, src, db, raw.schema, ckpt)
    q.awaitTermination()
    fact = catalog.read_table(spark, db, "fact_uber_trips")
    by_month = {r.processed_month: r.n for r in fact.groupBy("processed_month").agg(F.count("*").alias("n")).collect()}
    assert by_month == {"1": 201, "2": 201}

    # partition pruning on read-back: month filter touches one directory
    files = {
        r[0]
        for r in fact.filter("processed_month = '2'")
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert files and all("processed_month=2" in f for f in files)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_restart_recovery_no_double_append(spark, tmp_path):
    """r5 verdict item 5: drain half a two-month backlog, kill the query
    mid-stream, restart from the SAME checkpoint — the committed month
    must not be reprocessed, the failed month must be replayed exactly
    once, and no partition may end up double-appended."""
    import pytest

    db = "sg_test_stream_recover"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)

    raw = _taxi_fixture(spark)
    (tmp_path / "src").mkdir()
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def drop_month(df, name):
        tmp = str(tmp_path / f"tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.copy(f"{tmp}/{part}", f"{src}/{name}")

    # BOTH months are in the backlog before the stream ever starts
    drop_month(raw, "yellow_tripdata_2021-01.parquet")
    drop_month(
        raw.withColumn(
            "tpep_pickup_datetime",
            F.col("tpep_pickup_datetime") + F.expr("interval 31 days"),
        ).withColumn(
            "tpep_dropoff_datetime",
            F.col("tpep_dropoff_datetime") + F.expr("interval 31 days"),
        ),
        "yellow_tripdata_2021-02.parquet",
    )

    processed: list[str] = []

    def crash_on_feb(path):
        processed.append(path)
        if "2021-02" in path:
            raise RuntimeError("injected crash before the 02 commit")

    # run 1: maxFilesPerTrigger=1 → batch 0 commits month 01, batch 1
    # dies BEFORE month 02 writes anything
    q = monthly_star_ingest(
        spark, src, db, raw.schema, ckpt,
        max_files_per_trigger=1, on_file=crash_on_feb,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    assert [p.rsplit("/", 1)[-1] for p in processed] == [
        "yellow_tripdata_2021-01.parquet",
        "yellow_tripdata_2021-02.parquet",
    ]
    fact = catalog.read_table(spark, db, "fact_uber_trips")
    assert {r.processed_month for r in fact.select("processed_month").distinct().collect()} == {"1"}

    # run 2: same checkpoint, healthy hook — ONLY the uncommitted batch
    # replays; month 01 is never touched again
    replayed: list[str] = []
    q = monthly_star_ingest(
        spark, src, db, raw.schema, ckpt,
        max_files_per_trigger=1, on_file=replayed.append,
    )
    q.awaitTermination()
    assert [p.rsplit("/", 1)[-1] for p in replayed] == [
        "yellow_tripdata_2021-02.parquet"
    ]
    fact = catalog.read_table(spark, db, "fact_uber_trips")
    by_month = {
        r.processed_month: r.n
        for r in fact.groupBy("processed_month").agg(F.count("*").alias("n")).collect()
    }
    assert by_month == {"1": 201, "2": 201}  # no double-append anywhere

    # run 3 (idempotence of a FULLY drained checkpoint): restarting again
    # processes nothing and changes nothing
    third: list[str] = []
    q = monthly_star_ingest(
        spark, src, db, raw.schema, ckpt,
        max_files_per_trigger=1, on_file=third.append,
    )
    q.awaitTermination()
    assert third == []
    fact = catalog.read_table(spark, db, "fact_uber_trips")
    assert fact.count() == 402
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
