"""Source operators (SURVEY §2.1 S1-S6, S10).

Each reader maps one reference source to its native Spark primitive; all of
them produce lazy DataFrames so Catalyst pushes filters/projections into the
scan (check ``PushedFilters``/``ReadSchema`` in ``.explain``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1 — parquet scan, schema from footers (DM:232).

    Native source: row-group/page skipping via predicate pushdown and
    column pruning are free; at 100 TB this is the difference between
    scanning a partition and scanning the lake.
    """
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """S2 — CSV scan with header, all-string columns (DM:220-228)."""
    return spark.read.option("header", header).csv(path)


def from_rows(spark: SparkSession, rows, schema=None) -> DataFrame:
    """S3 — local-collection source for small static dimensions (DM:94).

    Reference uses reflective ``createDataFrame(list_of_dicts)``; passing an
    explicit schema keeps column order/type deterministic.  These tables are
    tiny by construction — always broadcast-join them.
    """
    return spark.createDataFrame(rows, schema=schema)


def sequence_dates(spark: SparkSession, start: str, end: str) -> DataFrame:
    """S4 — generator source: one row per date in [start, end] (DM:163-167).

    ``explode(sequence(...))`` runs entirely JVM-side; 10 959 rows for the
    reference's 2000-01-01..2030-01-01 calendar.
    """
    return spark.range(1).select(
        F.explode(F.sequence(F.to_date(F.lit(start)), F.to_date(F.lit(end)))).alias("date")
    )


def sequence_seconds(spark: SparkSession, day: str = "2000-01-01") -> DataFrame:
    """S4 — generator source: all 86 400 seconds of one day (DM:201-205)."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_timestamp(F.lit(f"{day} 00:00:00")),
                F.to_timestamp(F.lit(f"{day} 23:59:59")),
                F.expr("interval 1 second"),
            )
        ).alias("ts")
    )

