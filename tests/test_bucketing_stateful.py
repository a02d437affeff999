"""Bucketed co-located joins (shuffle-free) + custom stateful streaming."""

import contextlib
import io
import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark import catalog
from glue_etl_nyc_yellow_taxi_analysis_spark.streaming.ingest import (
    stateful_user_totals,
    stream_files,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    db = "sg_test_buckets"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)
    catalog.ensure_database(spark, db)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    catalog.save_bucketed_table(li, db, "lineitem_b", ["l_orderkey"], 8, ["l_orderkey"])
    catalog.save_bucketed_table(
        o.withColumnRenamed("o_orderkey", "l_orderkey"), db, "orders_b", ["l_orderkey"], 8,
        ["l_orderkey"],
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = catalog.read_table(spark, db, "lineitem_b").join(
            catalog.read_table(spark, db, "orders_b"), "l_orderkey"
        )
        plan = _plan(joined)
        # co-located buckets: sort-merge join with ZERO exchanges
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # result sanity vs the plain join
        plain = li.join(o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """State must survive micro-batch boundaries: deliver two files in two
    availableNow runs sharing a checkpoint; totals accumulate."""
    (tmp_path / "src").mkdir()
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        df = spark.createDataFrame(rows, "user_id long, value double")
        tmp = str(tmp_path / f"tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.copy(f"{tmp}/{part}", f"{src}/{name}")

    schema = "user_id long, value double"
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )

    def run_once(sink):
        # memory sink can't resume from a checkpoint; foreachBatch can
        collected = {}

        def grab(batch, batch_id):
            for r in batch.collect():
                collected[r.user_id] = (r.n_events, r.total_value)

        stream = stream_files(spark, src, schema)
        out = stateful_user_totals(stream)
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(grab)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return collected

    drop("batch1.parquet", [(1, 10.0), (1, 5.0), (2, 1.0)])
    got1 = run_once("sg_state_1")
    assert got1[1] == (2, 15.0) and got1[2] == (1, 1.0)

    drop("batch2.parquet", [(1, 2.5), (3, 7.0)])
    got2 = run_once("sg_state_2")
    # user 1's state carried across the restart: 2+1 events, 15.0+2.5
    assert got2[1] == (3, 17.5)
    assert got2[3] == (1, 7.0)
    assert 2 not in got2  # update mode: untouched keys emit nothing
