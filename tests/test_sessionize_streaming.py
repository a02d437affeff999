"""Event-time windowing: batch semantics + streaming/batch equivalence."""

import datetime as dt
import os

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.operators import sessionize
from glue_etl_nyc_yellow_taxi_analysis_spark.streaming.ingest import (
    stream_files,
    windowed_event_counts,
)


def _events(spark):
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),   # same session
        (1, base + dt.timedelta(minutes=50), 3.0),   # gap 40min → new session
        (2, base, 4.0),                               # other user
        (1, base + dt.timedelta(minutes=79, seconds=59), 5.0),  # 29:59 gap → same
        (1, base + dt.timedelta(minutes=110, seconds=1), 6.0),  # 30:01 gap → new
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def _fix_ts(df):
    """Normalize events.ts to watermark-able TIMESTAMP whichever physical
    type the driver's parquet shipped (nanos-as-long or TIMESTAMP_NTZ)."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.streaming.ingest import (
        ensure_event_time,
    )

    return ensure_event_time(df)


def test_sessionize_gap_boundaries(spark):
    out = sessionize.sessionize(_events(spark), gap_minutes=30).collect()
    u1 = sorted([r for r in out if r.user_id == 1], key=lambda r: r.session_id)
    assert len(u1) == 3
    assert [r.n_events for r in u1] == [2, 2, 1]
    assert sum(r.n_events for r in out if r.user_id == 2) == 1


def test_tumbling_agg(spark):
    out = sessionize.tumbling_agg(
        _events(spark), duration="1 hour", group_cols=["user_id"]
    ).collect()
    by = {(r.user_id, r.window_start.hour): r.n_events for r in out}
    assert by[(1, 10)] == 3 and by[(1, 11)] == 2 and by[(2, 10)] == 1


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The streaming windowed aggregate must reproduce the batch F.window
    plan (same counts per (window, type))."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = _fix_ts(raw)
    expected = {
        (r.window_start, r.event_type): r.n_events
        for r in sessionize.tumbling_agg(batch, group_cols=["event_type"]).collect()
    }

    (tmp_path / "src").mkdir()
    src = str(tmp_path / "src")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    stream = stream_files(spark, src, raw.schema)
    stream = _fix_ts(stream)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sg_test_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("sg_test_stream").collect()
    }
    assert got == expected


def test_streaming_sliding_matches_batch(spark, sf_dir, tmp_path):
    """Hopping windows (10 min / 5 min slide) through the STREAMING path
    must reproduce the batch F.window plan — each event in exactly 2
    windows on both paths."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = _fix_ts(raw)
    expected = {
        (r.w_start, r.event_type): r.n_events
        for r in (
            batch.groupBy(
                F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
            )
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("w_start"), "event_type", "n_events")
            .collect()
        )
    }
    assert sum(expected.values()) == 2 * batch.count()  # 2 windows per event

    (tmp_path / "src").mkdir()
    src = str(tmp_path / "src")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    stream = stream_files(spark, src, raw.schema)
    stream = _fix_ts(stream)
    agg = windowed_event_counts(
        stream,
        window_duration="10 minutes",
        slide_duration="5 minutes",
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sg_slide_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("sg_slide_stream").collect()
    }
    assert got == expected


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join == the same join expression
    on static frames."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.streaming.ingest import (
        interval_join_streams,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = _fix_ts(raw)
    clicks = ev.filter(F.col("event_type") == "click").alias("l")
    views = ev.filter(F.col("event_type") == "view").alias("r")
    expected = sorted(
        tuple(r)
        for r in clicks.join(
            views,
            F.expr(
                "l.user_id = r.user_id AND "
                "r.ts BETWEEN l.ts - INTERVAL 10 minutes AND l.ts"
            ),
        )
        .select(F.col("l.user_id"), F.col("l.ts"), F.col("r.ts"))
        .collect()
    )

    (tmp_path / "src").mkdir()
    src = str(tmp_path / "src")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")

    def side(et):
        s = stream_files(spark, src, raw.schema)
        s = _fix_ts(s)
        return s.filter(F.col("event_type") == et)

    joined = interval_join_streams(side("click"), side("view"))
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("sg_sjoin_parity")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table("sg_sjoin_parity").collect())
    assert got == expected


def test_transform_with_state_gated(spark, tmp_path):
    """transformWithStateInPandas (Spark 4's arbitrary-state successor to
    applyInPandasWithState — ValueState/ListState/MapState, timers, TTL)
    requires protobuf for its state-server protocol, which this container
    does not ship; the implemented custom-stateful surface is
    applyInPandasWithState (stateful_user_totals).  This test smoke-runs
    the new API whenever protobuf is available."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas state server needs protobuf",
    )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Count(StatefulProcessor):
        def init(self, handle):
            self.s = handle.getValueState("cnt", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n = (self.s.get() or (0,))[0]
            for pdf in rows:
                n += len(pdf)
            self.s.update((n,))
            yield pd.DataFrame({"k": [key[0]], "n": [n]})

        def close(self):
            pass

    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v int")
    src = str(tmp_path / "src")
    df.write.mode("overwrite").parquet(src)
    s = spark.readStream.schema(df.schema).parquet(src)
    out = s.groupBy("k").transformWithStateInPandas(
        Count(),
        outputStructType="k string, n bigint",
        outputMode="Update",
        timeMode="None",
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sg_tws_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.k: r.n for r in spark.table("sg_tws_sink").collect()}
    assert got == {"a": 2, "b": 1}
