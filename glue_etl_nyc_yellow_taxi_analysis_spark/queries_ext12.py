"""Extension batch XII — physical-layout levers.

Three levers that change nothing semantically and everything at 100 TB,
promoted from test-only coverage to declared queries:

* ``q_bucketed_join`` — co-located fact↔fact join through bucketed
  catalog tables (catalog.save_bucketed_table): both sides pre-hashed
  into the same bucket count on the join key, so the sort-merge join
  runs with ZERO exchanges (asserted in tests/test_bucketing_stateful.py
  with broadcast disabled).  The oracle proves the layout changes no
  results.
* ``q_zstd_roundtrip`` — zstd-compressed parquet write + read-back (the
  at-rest codec story: zstd ≈ snappy decode speed at a visibly better
  ratio — at 100 TB the storage/scan-byte delta is the bill).
* ``q_cached_multi_agg`` — persist() reuse: one filtered projection
  cached, two aggregates served from it (the second reads
  InMemoryTableScan, not the source — asserted in tests).  At 100 TB the
  same pattern uses StorageLevel.DISK_ONLY or checkpoint, same API.

Reference anchor: the reference controls layout only via snappy +
partitionKeys (etl-glue-nyc-yellow-data-model.py:358-371); these are the
remaining layout levers open-source Spark adds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .paths import scratch
from .registry import register
from .tables import DSUM_SQL, _t, dsum


# --------------------------------------------------------------------------
# Bucketed co-located join
# --------------------------------------------------------------------------

def q_bucketed_join(spark, sf_dir):
    """Join lineitem↔orders through same-bucketed catalog tables and
    roll up revenue per order priority.  save_bucketed_table pre-hashes
    both sides into 8 buckets on the join key — the join plan needs no
    exchange (the zero-shuffle property is asserted in tests with
    broadcast disabled; here the layout must simply change NO results,
    which the oracle's plain join proves).  Re-runnable: overwrite mode,
    fixed database."""
    import shutil
    from urllib.parse import urlparse

    from . import catalog

    db = "sg_q_buckets"
    catalog.ensure_database(spark, db)
    # a previous SESSION may have left the physical dirs behind without
    # this session's metastore knowing the tables — clear both layers
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("lineitem_b", "orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        shutil.rmtree(f"{wh}/{db}.db/{t}", ignore_errors=True)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    catalog.save_bucketed_table(
        li, db, "lineitem_b", ["l_orderkey"], 8, ["l_orderkey"]
    )
    catalog.save_bucketed_table(
        o, db, "orders_b", ["l_orderkey"], 8, ["l_orderkey"]
    )
    joined = catalog.read_table(spark, db, "lineitem_b").join(
        catalog.read_table(spark, db, "orders_b"), "l_orderkey"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum("l_extendedprice").alias("sum_price"),
    )


SQL_BUCKETED_JOIN = f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT l.l_orderkey) AS n_orders,
       {DSUM_SQL.format(col='l.l_extendedprice')} AS sum_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""

register(q_bucketed_join, SQL_BUCKETED_JOIN, bench=False)


# --------------------------------------------------------------------------
# zstd parquet roundtrip
# --------------------------------------------------------------------------

def q_zstd_roundtrip(spark, sf_dir):
    """Write orders as zstd parquet, read it back, aggregate per status.
    Pure codec coverage: results must be byte-identical to reading the
    source (oracle = direct aggregate).  zstd is the at-rest codec of
    record for petabyte archives — better ratio than snappy at
    comparable decode throughput, and splittable the same way."""
    o = _t(spark, sf_dir, "orders")
    out = scratch("sg_zstd_") + "/orders"
    o.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


SQL_ZSTD_ROUNDTRIP = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {DSUM_SQL.format(col='o_totalprice')} AS sum_price,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderdate) AS last_date
FROM orders
GROUP BY o_orderstatus
"""

register(q_zstd_roundtrip, SQL_ZSTD_ROUNDTRIP, bench=False)


# --------------------------------------------------------------------------
# Cached multi-aggregate
# --------------------------------------------------------------------------

def q_cached_multi_agg(spark, sf_dir):
    """Two aggregates served from ONE cached filtered projection: the
    1996 slice of lineitem is persisted, then rolled up by return flag
    AND by line status — the second job reads InMemoryTableScan instead
    of rescanning parquet (asserted in tests).  At 100 TB the slice
    would persist DISK_ONLY (or checkpoint) — same API, and the scan
    cost is still paid once instead of per-consumer."""
    li = _t(spark, sf_dir, "lineitem")
    base = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .persist()
    )
    by_flag = base.groupBy(
        F.col("l_returnflag").alias("key")
    ).agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    ).select(F.lit("by_flag").alias("kind"), "*")
    by_status = base.groupBy(
        F.col("l_linestatus").alias("key")
    ).agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    ).select(F.lit("by_status").alias("kind"), "*")
    return by_flag.unionByName(by_status)


SQL_CACHED_MULTI_AGG = f"""
WITH base AS (
  SELECT l_returnflag, l_linestatus, l_quantity
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
)
SELECT 'by_flag' AS kind, l_returnflag AS key, COUNT(*) AS n,
       {DSUM_SQL.format(col='l_quantity')} AS sum_qty
FROM base GROUP BY l_returnflag
UNION ALL
SELECT 'by_status', l_linestatus, COUNT(*),
       {DSUM_SQL.format(col='l_quantity')}
FROM base GROUP BY l_linestatus
"""

register(q_cached_multi_agg, SQL_CACHED_MULTI_AGG, bench=False)


# --------------------------------------------------------------------------
# Streaming session windows (state-store session merging)
# --------------------------------------------------------------------------

def q_stream_sessions(spark, sf_dir):
    """Gap-based sessionization THROUGH the streaming engine:
    session_window under a watermark, availableNow catch-up, append-mode
    memory sink.  The state store merges per-user sessions as events
    arrive and finalizes them when the watermark passes — bounded state
    keyed by (user, open session), the scale path for clickstream
    sessionization.  Batch-equivalence of per-user session counts vs
    q_session_window_native is asserted in tests, and the per-user session
    counts are oracle-checked (gap merging is pure event-time, tz-free)."""
    import datetime as dt
    import os

    from .streaming.ingest import (
        drain,
        ensure_event_time,
        session_window_counts,
        stream_files,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src_dir = scratch("sg_ssw_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/aa_events.parquet")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw_schema = raw.schema

    # Append-mode session aggregates emit a session only once the
    # watermark passes its close — so each user's FINAL session would
    # never leave the state store when the stream drains.  A single
    # watermark-advancing flush event (sentinel user -1, one day past
    # the corpus max; the watermark is GLOBAL, not per key) closes every
    # real session; maxFilesPerTrigger=1 guarantees the flush lands in a
    # later micro-batch than the data it flushes.
    from .tables import _events

    mx = _events(spark, sf_dir).agg(F.max("ts")).collect()[0][0]
    if mx is None:
        # no timestamped events to flush: the drained stream has no
        # sessions — empty result, not a NoneType+timedelta crash
        # (empty-tables sweep finding)
        return spark.createDataFrame(
            [], "user_id bigint, n_sessions bigint, n_events bigint"
        )
    # TWO flush files: the watermark computed at the end of batch N is
    # applied (state evicted, sessions emitted) in batch N+1 — the first
    # flush advances the watermark, the second gives the engine the
    # batch in which to act on it.  Written as PLAIN parquet files
    # (pyarrow) so the file-stream source lists them like the data file,
    # with the schema copied from the source file byte-for-byte.
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    src_schema = pa_pq.read_schema(f"{sf_dir}/events.parquet")
    for i in (1, 2):
        cols = {
            "event_id": [-i],
            "ts": [mx + dt.timedelta(days=i)],
            "user_id": [-1],
            "event_type": ["__flush__"],
            "value": [0.0],
            "props": ["{}"],
        }
        tbl = pa.table(
            {f.name: pa.array(cols[f.name], type=f.type) for f in src_schema},
            schema=src_schema,
        )
        pa_pq.write_table(tbl, f"{src_dir}/zz_flush{i}.parquet")
        # FileStreamSource orders by mtime: the data symlink carries the
        # OLD testdata mtime, but the two flush files are written
        # back-to-back and could tie — force flush1 < flush2 so the
        # watermark advance and the eviction batch stay distinct
        os.utime(
            f"{src_dir}/zz_flush{i}.parquet",
            (1_900_000_000 + i, 1_900_000_000 + i),
        )

    s = stream_files(spark, src_dir, raw_schema, max_files_per_trigger=1)
    sessions = session_window_counts(ensure_event_time(s))
    done = drain(sessions, "sg_stream_sessions").filter("user_id >= 0")
    return done.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


# session_window merges on pure event-time gaps (no tz-dependent
# alignment) and the drained output is integer counts — the batch
# lag-sessionization with the SAME boundary (strict >: an exact-gap
# event MERGES, pinned by test_session_window_exact_gap_merges) is the
# oracle
SQL_STREAM_SESSIONS = """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id,
       CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id
"""
register(q_stream_sessions, SQL_STREAM_SESSIONS, bench=False)


# --------------------------------------------------------------------------
# Stream-static enrichment join
# --------------------------------------------------------------------------

def q_stream_static_join(spark, sf_dir):
    """Stream↔static enrichment: the event stream joins a STATIC
    dimension (event_type → category/weight) before a windowed rollup —
    the single most common production streaming shape (fact stream +
    slowly-changing dim).  The static side needs no watermark and no
    state: Spark broadcasts it into every micro-batch.  Batch twin
    equivalence is asserted in tests AND oracle-checked at the gate
    (session tz pinned to UTC so day windows match date_trunc)."""
    from .streaming.ingest import drain, ensure_event_time, stream_table

    # F.window('1 day') aligns to SESSION-LOCAL midnight; pin UTC so the
    # day boundaries match the oracle's date_trunc under any host tz
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    dim = spark.createDataFrame(
        [
            ("view", "engagement", 1),
            ("click", "engagement", 2),
            ("signup", "conversion", 5),
            ("purchase", "conversion", 10),
            ("error", "ops", 0),
        ],
        "event_type string, category string, weight int",
    )

    s = ensure_event_time(stream_table(spark, sf_dir, "events"))
    enriched = s.join(F.broadcast(dim), "event_type")
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("weight").cast("long").alias("sum_weight"),
        )
        .select(
            F.col("w.start").alias("day_start"),
            "category",
            "n_events",
            "sum_weight",
        )
    )
    return drain(agg, "sg_stream_static_join", "complete").groupBy("category").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_weight").cast("long").alias("sum_weight"),
    )


SQL_STREAM_STATIC_JOIN = """
WITH dim AS (
  SELECT * FROM (VALUES
      ('view', 'engagement', 1), ('click', 'engagement', 2),
      ('signup', 'conversion', 5), ('purchase', 'conversion', 10),
      ('error', 'ops', 0)) AS t(event_type, category, weight)
), windows AS (
  SELECT d.category, date_trunc('day', e.ts) AS day_start,
         COUNT(*) AS n_events, SUM(d.weight) AS sum_weight
  FROM events e JOIN dim d USING (event_type)
  GROUP BY 1, 2
)
SELECT category,
       COUNT(*) AS n_windows,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(sum_weight) AS BIGINT) AS sum_weight
FROM windows
GROUP BY category
"""
register(q_stream_static_join, SQL_STREAM_STATIC_JOIN, bench=False)


# --------------------------------------------------------------------------
# Streaming CDC apply (foreachBatch merge loop)
# --------------------------------------------------------------------------

def q_stream_upsert_apply(spark, sf_dir):
    """Streaming CDC apply — the incremental-warehouse capstone: a stream
    of change records (three deterministic change files derived from
    orders) is applied to a parquet snapshot with operators.merge
    (left-anti + unionByName) inside foreachBatch — micro-batch = the
    reference's 'one Lambda invocation', merge = the MERGE the reference's
    append-only Job 2 lacks.  Final snapshot = base with batch-2 winning
    on collisions (last-writer-wins across ordered batches), summarized
    per status.  Batch recomputation equivalence is asserted in tests, and
    the closed-form CASE replay of the three ordered batches is the
    driver oracle (hash-fails if batches fuse or apply out of order)."""
    import os

    from .operators.merge import merge_upsert
    from .streaming.ingest import drain, stream_files

    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    o = _t(spark, sf_dir, "orders").select(*base_cols)

    snap_dir = scratch("sg_cdc_snap_") + "/orders"
    o.write.mode("overwrite").parquet(snap_dir)

    # three ordered change files: re-price every 13th order (+10),
    # cancel every 17th (status 'X'), insert clones of every 19th
    src_dir = scratch("sg_cdc_src_")
    changes = [
        o.filter("o_orderkey % 13 = 0").withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
        ),
        o.filter("o_orderkey % 17 = 0").withColumn(
            "o_orderstatus", F.lit("X")
        ),
        o.filter("o_orderkey % 19 = 0").withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(20_000_000)
        ),
    ]
    for i, ch in enumerate(changes):
        ch.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/batch_{i}")
        os.rename(
            f"{src_dir}/batch_{i}",
            f"{src_dir}/b{i}",
        )
        # FileStreamSource orders files by mtime; files written ms apart
        # can tie at mtime granularity and apply out of order, which flips
        # last-writer-wins for keys in multiple change sets (e.g. keys
        # divisible by 13 AND 17).  Force strictly increasing mtimes.
        for root, _dirs, names in os.walk(f"{src_dir}/b{i}"):
            for fname in names:
                os.utime(os.path.join(root, fname), (1_700_000_000 + i, 1_700_000_000 + i))
    # one micro-batch PER change file (maxFilesPerTrigger=1): merge
    # semantics are last-writer-wins, so change batches must apply in
    # arrival order, never fused into one unioned update set (keys in
    # two change sets would collide inside a single merge)
    schema = spark.read.parquet(snap_dir).schema
    stream = stream_files(spark, f"{src_dir}/b*", schema, max_files_per_trigger=1)

    def apply_batch(batch_df, batch_id):
        base = spark.read.parquet(snap_dir)
        merged = merge_upsert(base, batch_df, ["o_orderkey"])
        # two-step write: never overwrite the snapshot while a job is
        # still reading it
        tmp = snap_dir + f".v{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(snap_dir)

    drain(stream, apply_batch)
    final = spark.read.parquet(snap_dir)
    return final.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


# last-writer-wins over the three ordered change sets is closed-form:
# %17 keys take batch-1's whole row (status 'X', ORIGINAL price — b1 was
# built from the source, so it overwrites b0's reprice), else %13 keys
# take batch-0's +10 reprice; batch-2 inserts key+20M clones.  The CASE
# replay is the oracle — it hash-fails if batches apply out of order.
SQL_STREAM_UPSERT_APPLY = """
WITH final AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 17 = 0 THEN 'X' ELSE o_orderstatus END
             AS o_orderstatus,
         CASE WHEN o_orderkey % 17 = 0 THEN o_totalprice
              WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders
  UNION ALL
  SELECT o_orderkey + 20000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 19 = 0
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price
FROM final
GROUP BY o_orderstatus
"""
register(q_stream_upsert_apply, SQL_STREAM_UPSERT_APPLY, bench=False)


# --------------------------------------------------------------------------
# pandas API on Spark
# --------------------------------------------------------------------------

def q_pandas_api(spark, sf_dir):
    """The pandas-API-on-Spark surface (`DataFrame.pandas_api()`):
    a pandas-shaped filter → groupby → named-agg pipeline that lowers to
    the SAME Catalyst plans as the native API — zero data movement in or
    out of pandas, executors never materialize pandas objects.  This is
    the migration on-ramp for pandas codebases; aggregate choices here
    (count / nunique / min / max) are the order-independent ones, so the
    result is engine-exact without the decimal detour."""
    import pyspark.pandas as ps

    ps.set_option("compute.default_index_type", "distributed")
    pdf = _t(spark, sf_dir, "orders").pandas_api()
    filt = pdf[pdf.o_totalprice > 1000.0]
    agg = (
        filt.groupby("o_orderstatus")
        .agg(
            n=("o_orderkey", "count"),
            n_prio=("o_orderpriority", "nunique"),
            min_price=("o_totalprice", "min"),
            max_price=("o_totalprice", "max"),
        )
        .reset_index()
    )
    return agg.to_spark()


SQL_PANDAS_API = """
SELECT o_orderstatus, COUNT(*) AS n,
       COUNT(DISTINCT o_orderpriority) AS n_prio,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
WHERE o_totalprice > 1000.0
GROUP BY o_orderstatus
"""

register(q_pandas_api, SQL_PANDAS_API)
