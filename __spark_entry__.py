"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``glue_etl_nyc_yellow_taxi_analysis_spark``
(see SURVEY.md §2.9 for the inventory mapping).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from glue_etl_nyc_yellow_taxi_analysis_spark.coverage import driver_order
from glue_etl_nyc_yellow_taxi_analysis_spark.queries import ORACLE, QUERIES, q_star_agg


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the star-schema revenue
    aggregation (broadcast dim chain + one shuffle)."""
    return q_star_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.9, ordered so
    the driver's bounded correctness window accumulates NEW evidence each
    round (never-checked queries first; see coverage.py)."""
    return driver_order(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every registered query: ``register``
    requires an oracle, so the keys equal those of ``queries()``."""
    return dict(ORACLE)
