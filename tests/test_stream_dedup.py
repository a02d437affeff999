"""Streaming watermark dedup: state-bounded exactly-once-per-key."""

import os

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.streaming.ingest import (
    dedup_stream,
    stream_files,
)


def _write_batch(spark, src_dir, name, rows):
    df = spark.createDataFrame(rows, "k bigint, ts timestamp, v string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/_tmp_{name}")
    part = [
        f
        for f in os.listdir(f"{src_dir}/_tmp_{name}")
        if f.endswith(".parquet")
    ][0]
    os.rename(f"{src_dir}/_tmp_{name}/{part}", f"{src_dir}/{name}.parquet")


def test_dedup_stream_suppresses_in_and_cross_batch_dups(spark, tmp_path):
    import datetime as dt

    (tmp_path / "src").mkdir()
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out" / "rows")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def run_once():
        schema = spark.read.parquet(f"{src}/b1.parquet").schema
        s = stream_files(spark, src, schema)
        deduped = dedup_stream(s, ["k"], ts_col="ts", watermark="30 minutes")
        q = deduped.writeStream.foreachBatch(
            lambda b, _id: b.write.mode("append").parquet(out)
        ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination()

    # batch 1: key 1 duplicated in-batch, keys 2 and 3 unique
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, t0, "a"),
            (1, t0 + dt.timedelta(minutes=1), "a-dup"),
            (2, t0, "b"),
            (3, t0 + dt.timedelta(minutes=2), "c"),
        ],
    )
    run_once()
    got1 = {r.k for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 2, 3}
    assert spark.read.parquet(out).count() == 3

    # batch 2: key 2 re-sent within the watermark (suppressed — state
    # survives the restart via the checkpoint), key 4 is new
    _write_batch(
        spark,
        src,
        "b2",
        [
            (2, t0 + dt.timedelta(minutes=5), "b-dup"),
            (4, t0 + dt.timedelta(minutes=6), "d"),
        ],
    )
    run_once()
    rows = spark.read.parquet(out).collect()
    assert {r.k for r in rows} == {1, 2, 3, 4}
    assert len(rows) == 4, sorted((r.k, r.v) for r in rows)
