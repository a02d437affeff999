"""Behavior contracts for extension batch XII (queries_ext12)."""

import contextlib
import glob
import io

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ------------------------------------------------------------ bucketed join

def test_bucketed_join_matches_plain_and_reruns(spark, sf_dir):
    rows1 = {
        r.o_orderpriority: (r.n_lines, r.n_orders, r.sum_price)
        for r in QUERIES["q_bucketed_join"](spark, sf_dir).collect()
    }
    # stateful query must be re-runnable in the same session
    rows2 = {
        r.o_orderpriority: (r.n_lines, r.n_orders, r.sum_price)
        for r in QUERIES["q_bucketed_join"](spark, sf_dir).collect()
    }
    assert rows1 == rows2
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plain = {
        r.o_orderpriority: (r.n, r.d)
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("l_orderkey").alias("d"),
        )
        .collect()
    }
    assert {k: (v[0], v[1]) for k, v in rows1.items()} == plain


# ------------------------------------------------------------ zstd roundtrip

def test_zstd_files_actually_use_zstd(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(100)
    out = str(tmp_path / "o")
    o.write.mode("overwrite").option("compression", "zstd").parquet(out)
    files = glob.glob(f"{out}/*.parquet")
    assert files
    meta = pq.ParquetFile(files[0]).metadata
    codecs = {
        meta.row_group(i).column(0).compression
        for i in range(meta.num_row_groups)
    }
    assert codecs == {"ZSTD"}


# --------------------------------------------------------- cached multi-agg

def test_cached_multi_agg_uses_memory_scan(spark, sf_dir):
    df = QUERIES["q_cached_multi_agg"](spark, sf_dir)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan
    rows = df.collect()
    kinds = {r.kind for r in rows}
    assert kinds == {"by_flag", "by_status"}
    # both rollups cover the same cached row set
    by_kind = {}
    for r in rows:
        by_kind[r.kind] = by_kind.get(r.kind, 0) + r.n
    assert by_kind["by_flag"] == by_kind["by_status"]


# --------------------------------------------------------- stream sessions

def test_stream_sessions_match_batch_native(spark, sf_dir):
    stream_rows = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in QUERIES["q_stream_sessions"](spark, sf_dir).collect()
    }
    batch = QUERIES["q_session_window_native"](spark, sf_dir)
    batch_rows = {
        r.user_id: (r.n, r.e)
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_events").cast("long").alias("e"),
        )
        .collect()
    }
    assert stream_rows == batch_rows


# ------------------------------------------------------ stream-static join

def test_stream_static_join_matches_batch(spark, sf_dir):
    rows = {
        r.category: (r.n_events, r.sum_weight)
        for r in QUERIES["q_stream_static_join"](spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    weights = {"view": 1, "click": 2, "signup": 5, "purchase": 10, "error": 0}
    cats = {"view": "engagement", "click": "engagement",
            "signup": "conversion", "purchase": "conversion", "error": "ops"}
    expect = {}
    for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect():
        c = cats[r.event_type]
        n, w = expect.get(c, (0, 0))
        expect[c] = (n + r.n, w + r.n * weights[r.event_type])
    assert rows == expect


# ------------------------------------------------------- stream CDC apply

def test_stream_upsert_apply_matches_sequential_merge(spark, sf_dir):
    rows = {
        r.o_orderstatus: (r.n_orders, r.sum_price)
        for r in QUERIES["q_stream_upsert_apply"](spark, sf_dir).collect()
    }
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators.merge import merge_upsert

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    state = o
    for ch in (
        o.filter("o_orderkey % 13 = 0").withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
        ),
        o.filter("o_orderkey % 17 = 0").withColumn(
            "o_orderstatus", F.lit("X")
        ),
        o.filter("o_orderkey % 19 = 0").withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(20_000_000)
        ),
    ):
        state = merge_upsert(state, ch, ["o_orderkey"])
    expect = {
        r.o_orderstatus: (r.n, float(r.s))
        for r in state.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("s"),
        )
        .collect()
    }
    assert rows == expect
    assert "X" in rows  # cancellations actually applied


# ------------------------------------------------------------- pandas API

def test_pandas_api_stays_on_jvm(spark, sf_dir):
    df = QUERIES["q_pandas_api"](spark, sf_dir)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # pandas-API pipeline must lower to native plans — no Python workers
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    rows = {r.o_orderstatus: r.n for r in df.collect()}
    direct = {
        r.o_orderstatus: r.n
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter("o_totalprice > 1000.0")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rows == direct
