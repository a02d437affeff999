"""The query registry: one place that declares every query.

A query module calls ``register(fn, oracle_sql)`` once per query, after
the oracle string is defined.  The key is ``fn.__name__``; the oracle is
the DuckDB SQL that must return the same rows on the same parquet.
``bench=True`` also puts the query in ``HEADLINE``, the lanes ``bench.py``
times.

``queries.py`` registers the core inventory and then imports every
``queries_ext*`` module in a fixed order, so ``QUERIES`` iterates in that
order (the driver's coverage rotation breaks ties on it).  This module
imports no query module, so any of them can be imported first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Query] = {}
ORACLE: dict[str, str] = {}
HEADLINE: list[str] = []


def register(fn: Query, oracle_sql: str, *, bench: bool = True) -> Query:
    """Declare ``fn`` under its own name with its DuckDB oracle."""
    name = fn.__name__
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    QUERIES[name] = fn
    ORACLE[name] = oracle_sql
    if bench:
        HEADLINE.append(name)
    return fn


def sql_query(
    name: str, sql: str, tables: tuple[str, ...], doc: str, *, bench: bool = True
) -> Query:
    """Register a lane that runs ``sql`` through Spark SQL over ``tables``;
    the same dialect-neutral string is its oracle."""

    def fn(spark, sf_dir, _sql=sql, _tables=tables):
        from .sql import register_views, run_sql

        register_views(spark, sf_dir, tables=_tables)
        return run_sql(spark, _sql)

    fn.__name__ = name
    fn.__qualname__ = name
    fn.__doc__ = doc
    return register(fn, sql, bench=bench)
