"""Extension batch VII — indexing, profiling, integrity, resilience,
frontier analytics.

Five capabilities a warehouse/training-data pipeline needs that the
earlier batches don't cover:

* ``q_global_index`` — contiguous global row numbering WITHOUT the
  single-partition ``ROW_NUMBER() OVER (ORDER BY ...)`` trap (two-phase
  bucketed plan, operators/indexing.py).
* ``q_pareto_frontier`` — 2-D skyline via one running-max window after
  pair-dedup, local-then-global at scale (operators/skyline.py).
* ``q_summary_stats`` — one-pass describe()-shape column profile from
  EXACT decimal moments (deterministic across engines and partition
  orders, unlike stddev over raw doubles).
* ``q_table_checksum`` — portable md5-folded integrity fingerprint per
  group (the "did the migration copy every row byte-for-byte" check the
  reference's warehouse load, etl-glue-load-to-postgres.py:78-88, has
  no answer to).
* ``q_csv_malformed`` — PERMISSIVE corrupt-record CSV reads: the
  schema-on-read resilience path for the reference's all-string CSV scan
  (etl-glue-nyc-yellow-data-model.py:220-228) when a bad row arrives.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .operators.indexing import global_index
from .operators.skyline import skyline_2d
from .paths import scratch
from .registry import register
from .tables import _t


# --------------------------------------------------------------------------
# Global contiguous index (two-phase, no single-partition sort)
# --------------------------------------------------------------------------

def q_global_index(spark, sf_dir):
    """Contiguous 1-based index of events ordered by event_id, built by
    the bucketed two-phase plan (approx_percentile ranges → exact counts
    → per-bucket window + offset).  The oracle is the single-partition
    window the plan refuses to run — byte-identical output, parallel
    sort."""
    ev = _t(spark, sf_dir, "events").select("event_id")
    return global_index(ev, "event_id", index_col="idx").select("event_id", "idx")


SQL_GLOBAL_INDEX = """
SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) AS idx
FROM events
"""

register(q_global_index, SQL_GLOBAL_INDEX)


# --------------------------------------------------------------------------
# Pareto frontier (skyline)
# --------------------------------------------------------------------------

def q_pareto_frontier(spark, sf_dir):
    """Per-priority Pareto frontier of orders over (totalprice,
    orderdate): orders for which no same-priority order is >= on both
    axes and strictly greater on one.  Window form (sort + running max)
    instead of the quadratic NOT-EXISTS self-join the oracle runs."""
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
        F.to_date("o_orderdate").alias("odate"),
    )
    return skyline_2d(pts, "price", "odate", ["o_orderpriority"])


SQL_PARETO_FRONTIER = """
WITH pts AS (
  SELECT DISTINCT o_orderpriority,
         o_totalprice AS price,
         CAST(o_orderdate AS DATE) AS odate
  FROM orders
)
SELECT p.o_orderpriority, p.price, p.odate
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.o_orderpriority = p.o_orderpriority
    AND q.price >= p.price AND q.odate >= p.odate
    AND (q.price > p.price OR q.odate > p.odate)
)
"""

register(q_pareto_frontier, SQL_PARETO_FRONTIER)


# --------------------------------------------------------------------------
# One-pass column profile from exact moments
# --------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def q_summary_stats(spark, sf_dir):
    """describe()-shape profile (count / mean / stddev_samp / min / max)
    for three lineitem measures in ONE scan + ONE reduce.  Moments are
    accumulated as exact decimals (sum, sum-of-squares) so the derived
    mean/stddev are independent of partial-aggregation order — stddev
    over raw doubles is not, and would flake the cross-engine hash."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        d = F.col(c).cast("decimal(12,4)")
        aggs += [
            F.count(c).alias(f"n_{c}"),
            F.sum(d).cast("double").alias(f"s_{c}"),
            F.sum(d * d).cast("double").alias(f"s2_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    row = li.agg(*aggs)
    # n-guards: with 0 rows the mean lane and with 1 row the (n-1)
    # sample-stddev divisor hit x/0, an ANSI DIVIDE_BY_ZERO on Spark
    # where DuckDB's division by zero serves NULL (review r4, probed)
    lanes = ", ".join(
        f"'{c}', n_{c}, "
        f"CASE WHEN n_{c} > 0 THEN round(s_{c} / n_{c}, 6) END, "
        f"CASE WHEN n_{c} > 1 THEN "
        f"round(sqrt(greatest((s2_{c} - s_{c} * s_{c} / n_{c}) / (n_{c} - 1), 0d)), 4)"
        f" END, "
        f"min_{c}, max_{c}"
        for c in _PROFILE_COLS
    )
    return row.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {lanes})"
            " AS (col_name, n_cnt, mean_v, std_v, min_v, max_v)"
        )
    )


def _profile_lane_sql(c: str) -> str:
    return f"""
  SELECT '{c}' AS col_name,
         COUNT({c}) AS n_cnt,
         ROUND(CAST(SUM(CAST({c} AS DECIMAL(12,4))) AS DOUBLE) / COUNT({c}), 6)
           AS mean_v,
         ROUND(SQRT(GREATEST(
             (CAST(SUM(CAST({c} AS DECIMAL(19,4)) * CAST({c} AS DECIMAL(19,4)))
                   AS DOUBLE)
              - CAST(SUM(CAST({c} AS DECIMAL(12,4))) AS DOUBLE)
                * CAST(SUM(CAST({c} AS DECIMAL(12,4))) AS DOUBLE) / COUNT({c}))
             / (COUNT({c}) - 1), 0)), 4) AS std_v,
         MIN({c}) AS min_v,
         MAX({c}) AS max_v
  FROM lineitem"""


SQL_SUMMARY_STATS = " UNION ALL ".join(
    _profile_lane_sql(c) for c in _PROFILE_COLS
)

register(q_summary_stats, SQL_SUMMARY_STATS)


# --------------------------------------------------------------------------
# Table integrity checksum (portable md5 fold)
# --------------------------------------------------------------------------

def q_table_checksum(spark, sf_dir):
    """Order-insensitive per-group content fingerprint of orders: md5 of
    a canonical '|'-joined row rendering, folded to a 32-bit integer via
    the first four hex characters' code points, summed per group.  Both
    engines produce identical md5 hex and identical ascii folds, so the
    checksum is portable — run it on source and on a migrated copy and
    compare (the row-level integrity check behind the reference's
    Postgres bulk load)."""
    o = _t(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
    )
    h = F.md5(canon)

    def a(i: int):
        return F.ascii(F.substring(h, i, 1)).cast("bigint")

    fold = ((a(1) * 256 + a(2)) * 256 + a(3)) * 256 + a(4)
    return (
        o.withColumn("__f", fold)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__f").alias("checksum"),
        )
    )


SQL_TABLE_CHECKSUM = """
WITH h AS (
  SELECT o_orderpriority,
         md5(concat_ws('|',
             CAST(o_orderkey AS VARCHAR),
             o_orderstatus,
             o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))) AS hh
  FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(((CAST(ascii(substr(hh, 1, 1)) AS BIGINT) * 256
                  + ascii(substr(hh, 2, 1))) * 256
                 + ascii(substr(hh, 3, 1))) * 256
                + ascii(substr(hh, 4, 1))) AS BIGINT) AS checksum
FROM h
GROUP BY o_orderpriority
"""

register(q_table_checksum, SQL_TABLE_CHECKSUM)


# --------------------------------------------------------------------------
# PERMISSIVE corrupt-record CSV read
# --------------------------------------------------------------------------

_CSV_RAW = (
    "id,val,tag\n"
    "1,10,a\n"
    "2,oops,b\n"
    "3,30,c\n"
    "garbage-row-no-commas\n"
    "4,40,d\n"
    "5,,e\n"
)


def q_csv_malformed(spark, sf_dir):
    """PERMISSIVE schema-on-read over a CSV containing a non-numeric
    cell, a wrong-arity line, and an empty cell: bad rows surface their
    raw text in the corrupt-record column with parseable fields kept,
    empty cells are legal NULLs — nothing is dropped.  The oracle is the
    semantics VALUES table this contract pins."""
    d = scratch("sg_csv_mal_")
    path = os.path.join(d, "m.csv")
    with open(path, "w") as f:
        f.write(_CSV_RAW)
    df = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema("id INT, val INT, tag STRING, _bad STRING")
        .csv(path)
    )
    return df.select(
        "id", "val", "tag", F.col("_bad").isNotNull().alias("is_bad")
    )


SQL_CSV_MALFORMED = """
SELECT * FROM (VALUES
  (1, 10, 'a', FALSE),
  (2, NULL, 'b', TRUE),
  (3, 30, 'c', FALSE),
  (NULL, NULL, NULL, TRUE),
  (4, 40, 'd', FALSE),
  (5, NULL, 'e', FALSE)
) AS t(id, val, tag, is_bad)
"""

register(q_csv_malformed, SQL_CSV_MALFORMED, bench=False)
