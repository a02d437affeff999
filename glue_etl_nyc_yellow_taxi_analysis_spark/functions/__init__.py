"""Scalar function library — every expression stays JVM-side.

All helpers return Column expressions built from ``pyspark.sql.functions``
so they participate in whole-stage codegen; none drop to Python row
evaluation.  Cites map each helper to the reference call sites it
re-expresses (DM = glue_job_scripts/etl-glue-nyc-yellow-data-model.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "date_id",
    "time_id",
    "is_weekend",
    "yn_flag",
    "minutes_between",
    "peak_band_id",
    "uuid_pk",
]


def date_id(c: Column | str, fmt: str = "yyyyMMdd") -> Column:
    """Surrogate date key as a string, e.g. 20210131 (DM:282, DM:170)."""
    return F.date_format(c, fmt)


def time_id(c: Column | str) -> Column:
    """Surrogate time-of-day key HHmmss (DM:283, DM:209)."""
    return F.date_format(c, "HHmmss")


def is_weekend(c: Column | str) -> Column:
    """'Yes'/'No' weekend flag from a date column (DM:178-180)."""
    return F.when(F.date_format(c, "EEE").isin("Sat", "Sun"), "Yes").otherwise("No")


def yn_flag(c: Column | str) -> Column:
    """Recode Y/N (or null) to 1/0 int flag (DM:254-256)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.when(c.cast("string") == "Y", 1).otherwise(0)


def minutes_between(start: Column | str, end: Column | str) -> Column:
    """Whole minutes from start to end: floor((unix(end)-unix(start))/60)
    (DM:290-299).  Works on TimestampType directly — no string round-trip.
    """
    return F.floor((F.unix_timestamp(end) - F.unix_timestamp(start)) / 60)


def peak_band_id(hour: Column) -> Column:
    """3-way peak band from an integer hour-of-day (DM:308-315).

    Night 101 = hours 0-5 and 20-23; Peak 102 = 6-9 and 16-19;
    Off-Peak 103 = the rest.  The reference derives this mapping as a
    distinct() over the fact at runtime; expressing it as a pure column
    function removes that extra fact scan + join entirely.
    """
    h = hour.cast("int")
    return (
        F.when(h.between(0, 5) | h.between(20, 23), "101")
        .when(h.between(6, 9) | h.between(16, 19), "102")
        .otherwise("103")
    )


def uuid_pk() -> Column:
    """Non-deterministic surrogate primary key (DM:279)."""
    return F.expr("uuid()")

