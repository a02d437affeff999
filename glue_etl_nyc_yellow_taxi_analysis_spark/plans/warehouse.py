"""Warehouse load — Job-2 semantics (``etl-glue-load-to-postgres.py``).

One catalog listing per load answers every existence question, then the
missing dimensions are created one after another.  The reference probes
``pg_catalog.pg_tables`` once per table (PG:62-71); the one listing gives
the same answers in one round trip.
For the fact: catalog scan → partition-pruned month filter → append
(PG:78-88).  The ``Warehouse`` abstraction (sources/writers.py) supplies
JDBC or parquet-directory implementations; the plan is identical either way.

Parameters are bound as typed filters, not f-string SQL interpolation
(SURVEY §4 quirk 7 — same semantics, no injection).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from ..sources.writers import Warehouse

DIM_TABLES = [
    "dim_vendors",
    "dim_ratecode",
    "dim_store_and_fwd_flag",
    "dim_payment_type",
    "dim_trip_peak_band",
    "dim_date",
    "dim_time",
]


def load_star_to_warehouse(
    spark: SparkSession,
    wh: Warehouse,
    database: str,
    processed_year: str,
    processed_month: str,
    dim_tables: list[str] | None = None,
    fact_table: str = "fact_uber_trips",
    skip_if_loaded: bool = True,
) -> dict[str, str]:
    """Load dims (create-if-missing) + one fact month (append).

    ``wh.list_tables()`` is read once and answers for the dimensions and
    the fact; a warehouse without a known catalog (``None``) is probed one
    table at a time.  A failed dimension create propagates before the fact
    is touched, so it leaves no fact month behind.

    The fact filter hits the write-partition columns, so Catalyst prunes to
    one partition directory — the read scans a month, not the table (F4).
    Returns {table: action} for observability.

    ``skip_if_loaded`` guards the append with a (year, month) existence
    probe against the warehouse fact — a scheduler retry or operator
    re-run would otherwise double-load the month and double-count every
    downstream aggregate (the reference's Job 2 appends blindly,
    PG:86-88; pass ``skip_if_loaded=False`` for that exact behavior).
    """
    listed = wh.list_tables()

    def exists(t: str) -> bool:
        return wh.table_exists(t) if listed is None else wh.catalog_name(t) in listed

    actions: dict[str, str] = {}
    for t in dim_tables if dim_tables is not None else DIM_TABLES:
        if exists(t):
            actions[t] = "exists"
        else:
            wh.create(read_table(spark, database, t), t)
            actions[t] = "created"
    fact = read_table(spark, database, fact_table).filter(
        (F.col("processed_year") == processed_year)
        & (F.col("processed_month") == processed_month)
    )
    if skip_if_loaded and exists(fact_table):
        already = (
            wh.read(spark, fact_table)
            .filter(
                (F.col("processed_year") == processed_year)
                & (F.col("processed_month") == processed_month)
            )
            .limit(1)
            .count()
        )
        if already:
            actions[fact_table] = (
                f"skipped {processed_year}-{processed_month} (already loaded)"
            )
            return actions
    wh.append(fact, fact_table)
    actions[fact_table] = f"appended {processed_year}-{processed_month}"
    return actions
