"""Ad-hoc SQL entry point — the reference's Athena/Looker layer (SURVEY §3.3).

The star schema exists to be queried; this module gives it the SQL front
door: register tables as views, run raw SQL through Spark's parser/Catalyst.
Queries written in the dialect-neutral subset (standard aggregates, year()/
hour(), DECIMAL casts, ANSI joins) run byte-identically on DuckDB — the
driver oracle for `q_sql_*` entries IS the same query string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .tables import TABLES, _t


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Expose the testdata tables to SQL (temp views; zero copies).

    On a cluster this is `spark.table` over the real catalog instead —
    views here keep the ad-hoc layer warehouse-independent.
    """
    for name in tables:
        _t(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, query: str) -> DataFrame:
    """S10/§3.3 — raw SQL through Spark's parser → Catalyst → execution."""
    return spark.sql(query)


# Dialect-neutral pricing-summary query (TPC-H Q1 shape): decimal-exact
# aggregation, runs unchanged on Spark and DuckDB.
PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
            AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

# Shipping-priority top-10 (TPC-H Q3 shape): join + agg + deterministic
# ORDER/LIMIT, dialect-neutral.
SHIPPING_PRIORITY_SQL = """
SELECT l.l_orderkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
            AS DOUBLE) AS revenue,
       o.o_orderpriority
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""
