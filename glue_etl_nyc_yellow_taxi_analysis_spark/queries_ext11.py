"""Extension batch XI — Spark-4 platform surfaces.

Four API surfaces a platform team needs that no earlier batch exercises:

* ``q_python_datasource`` — custom Python DataSource (Spark 4 datasource
  API): partition-parallel reads from a pure-Python source, verified
  closed-form by the oracle (sources/pydatasource.py).
* ``q_sql_parameterized`` — named-parameter SQL binding
  (``spark.sql(query, args=…)``): the injection-safe resolution of the
  reference's f-string-interpolated filters
  (etl-glue-load-to-postgres.py:83-85, SURVEY §4 quirk 7).
* ``q_session_window_native`` — ``session_window()`` gap sessions, the
  built-in (and streaming-capable) twin of q_session_windows' lag+sum
  composition; oracle recomputes sessions via island detection.
* ``q_observe_metrics`` — ``Dataset.observe``: data-quality metrics
  collected ON the same pass that produces the output (zero extra scans
  at 100 TB — the reference's print-tracing done right).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import register
from .tables import _t


# --------------------------------------------------------------------------
# Custom Python DataSource
# --------------------------------------------------------------------------

def q_python_datasource(spark, sf_dir):
    """Read 10 000 synthetic sensor readings through the custom Python
    DataSource (8 independent partitions, LCG-deterministic cells) and
    roll them up per device.  The oracle reproduces the source
    closed-form from generate_series — proving the Python reader's
    sharding and value function, not just its row count."""
    from .sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_sensor")
        .option("n", "10000")
        .option("parts", "8")
        .load()
    )
    return df.groupBy("device").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("reading").alias("sum_reading"),
        F.min("reading").alias("min_reading"),
        F.max("reading").alias("max_reading"),
        F.sum("seq").alias("seq_checksum"),
    )


SQL_PYTHON_DATASOURCE = """
SELECT CAST(seq % 8 AS INTEGER) AS device,
       COUNT(*) AS n,
       CAST(SUM((seq * 1103515245 + 12345) % 1000) AS BIGINT) AS sum_reading,
       MIN((seq * 1103515245 + 12345) % 1000) AS min_reading,
       MAX((seq * 1103515245 + 12345) % 1000) AS max_reading,
       CAST(SUM(seq) AS BIGINT) AS seq_checksum
FROM (SELECT UNNEST(range(0, 10000)) AS seq)
GROUP BY 1
"""

register(q_python_datasource, SQL_PYTHON_DATASOURCE)


# --------------------------------------------------------------------------
# Named-parameter SQL
# --------------------------------------------------------------------------

_PARAM_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderdate >= :start_ts
  AND o_orderdate < :end_ts
  AND o_orderstatus = :status
GROUP BY o_orderpriority
"""


def q_sql_parameterized(spark, sf_dir):
    """The reference interpolates year/month filters into SQL strings
    f-string-style (etl-glue-load-to-postgres.py:83-85) — an injection
    hazard and a plan-cache miss per value.  Spark 4 named parameters
    (`spark.sql(query, args={...})`) bind values AFTER parsing: same
    query text every run, values never concatenated into SQL.  The
    oracle is the identical query with the literals inlined."""
    from .sql import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        _PARAM_SQL,
        args={
            "start_ts": "1996-01-01 00:00:00",
            "end_ts": "1997-01-01 00:00:00",
            "status": "F",
        },
    )


SQL_PARAMETERIZED = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderstatus = 'F'
GROUP BY o_orderpriority
"""

register(q_sql_parameterized, SQL_PARAMETERIZED, bench=False)


# --------------------------------------------------------------------------
# Native session_window gap sessions
# --------------------------------------------------------------------------

def q_session_window_native(spark, sf_dir):
    """Gap-based sessions via the BUILT-IN session_window (30-min gap):
    one groupBy carries the whole sessionization — and the identical
    expression works under writeStream with a watermark, which the
    lag+running-sum composition (q_session_windows) cannot.  Session end
    is normalized to last-event-time + gap on both engines.  One shuffle
    on (user, session)."""
    ev = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", sw)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # floor(x·1e4 + 0.5), not round(x, 4): Spark rounds the
            # double's shortest decimal repr (HALF_UP) while DuckDB
            # rounds the binary value — repr-tie inputs (e.g. 1.00005)
            # diverge; the floor lane is the identical IEEE op sequence
            # on both engines
            (
                F.sum(
                    F.floor(F.col("value").cast("double") * 1e4 + F.lit(0.5))
                ).cast("double")
                / F.lit(10000.0)
            ).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            (F.col("last_ts") + F.expr("INTERVAL 30 MINUTES"))
            .alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SQL_SESSION_WINDOW_NATIVE = """
WITH ordered AS (
  SELECT user_id, ts, value,
         -- strict >: Spark's session_window MERGES an event landing
         -- exactly gap after its predecessor (sessions extend while
         -- next_ts <= session_end; pinned empirically by
         -- test_session_window_exact_gap_merges — only a gap strictly
         -- greater than 30:00 opens a new session)
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1e4 + 0.5) AS BIGINT))
            AS DOUBLE) / 10000.0 AS sum_value
FROM numbered
GROUP BY user_id, session_id
"""

register(q_session_window_native, SQL_SESSION_WINDOW_NATIVE)


# --------------------------------------------------------------------------
# Observed metrics (free data-quality pass)
# --------------------------------------------------------------------------

def q_observe_metrics(spark, sf_dir):
    """Data-quality metrics via Dataset.observe: null counts, row count,
    and value bounds are accumulated ON the pass that computes the real
    output (a per-type rollup written to the noop sink here) — at 100 TB
    the metrics cost zero extra scans, unlike a separate validation
    query.  The observed map is surfaced as a 1-row DataFrame; the
    oracle recomputes the same metrics declaratively."""
    from pyspark.sql import Observation

    ev = _t(spark, sf_dir, "events")
    if ev.isEmpty():
        # a zero-task observed job trips a JVM assertion in obs.get
        # (empty-tables sweep finding) — emit what the declarative twin
        # yields on empty input: COUNT 0, every SUM/MIN/MAX NULL
        return spark.createDataFrame(
            [(0, None, None, None, None, None)],
            "n_rows long, n_null_props long, n_null_value long,"
            " min_value double, max_value double, n_purchases long",
        )
    obs = Observation("dq")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("props").isNull().cast("long")).alias("n_null_props"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        # floor-lane e4 rounding (see q_session_window_native): ROUND on
        # a raw double ties differently between Spark and DuckDB
        (
            F.floor(F.min("value") * F.lit(1e4) + F.lit(0.5)).cast("double")
            / F.lit(10000.0)
        ).alias("min_value"),
        (
            F.floor(F.max("value") * F.lit(1e4) + F.lit(0.5)).cast("double")
            / F.lit(10000.0)
        ).alias("max_value"),
        # observe rejects DISTINCT aggregates — conditional count instead
        # (when/otherwise: a NULL event_type is "not a purchase", so an
        # all-NULL slice counts 0, not NULL — sweep finding)
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )
    # the "real" job this pass performs; noop sink forces execution
    observed.groupBy("event_type").agg(F.count(F.lit(1))).write.format(
        "noop"
    ).mode("overwrite").save()
    m = obs.get

    # all-NULL value column ⇒ NULL bounds, matching the oracle's
    # MIN/MAX-over-nothing (degenerate-corpus sweep finding)
    def _f(v):
        return None if v is None else float(v)

    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_null_props"],
                m["n_null_value"],
                _f(m["min_value"]),
                _f(m["max_value"]),
                m["n_purchases"],
            )
        ],
        "n_rows long, n_null_props long, n_null_value long,"
        " min_value double, max_value double, n_purchases long",
    )


SQL_OBSERVE_METRICS = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_props,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value,
       CAST(floor(MIN(value) * 1e4 + 0.5) AS DOUBLE) / 10000.0 AS min_value,
       CAST(floor(MAX(value) * 1e4 + 0.5) AS DOUBLE) / 10000.0 AS max_value,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM events
"""

register(q_observe_metrics, SQL_OBSERVE_METRICS, bench=False)
