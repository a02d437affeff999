"""Sink operators (SURVEY §2.1 S7-S9).

``write_partitioned_parquet`` is the path sink twin of
``catalog.save_table``; ``Warehouse`` re-expresses the reference's
Postgres-over-JDBC load (Job 2) behind a tiny interface with two
implementations: real JDBC when a driver jar is on the classpath, and a
parquet-directory warehouse otherwise (same create/append semantics, so the
load plan and its tests are environment-independent).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StringType


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S7 — snappy parquet partitioned by the given keys (DM:358-371).

    Partition columns become directory levels; readers filtering on them get
    partition pruning (F4, PG:83-85).  At 100 TB the partition scheme IS the
    index — year/month keys bound every incremental read to one directory.
    """
    writer = df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


class Warehouse:
    """Abstract warehouse sink: list / exists / create / append / read.

    Mirrors Job 2's surface: probe ``pg_catalog.pg_tables`` (PG:62-67),
    first-time ``write.jdbc`` create (PG:71, S8), incremental
    ``mode("append").jdbc`` (PG:86-88, S9).
    """

    def list_tables(self) -> set[str] | None:
        """Every table of the warehouse, from one catalog query, spelled as
        ``catalog_name`` spells them; ``None`` when there is no known
        catalog to list (callers probe each table with ``table_exists``)."""
        return None

    def catalog_name(self, table: str) -> str:
        """How the warehouse's catalog spells ``table``."""
        return table

    def table_exists(self, table: str) -> bool:
        raise NotImplementedError

    def create(self, df: DataFrame, table: str) -> None:
        raise NotImplementedError

    def append(self, df: DataFrame, table: str) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError


class JdbcWarehouse(Warehouse):
    """Real JDBC warehouse (requires a driver jar, e.g. postgresql-*.jar).

    Executors open parallel connections on write — size
    ``numPartitions``/``batchsize`` for the target DB at scale.
    """

    def __init__(self, spark: SparkSession, url: str, properties: dict | None = None):
        self.spark = spark
        self.url = url
        self.properties = dict(properties or {})

    @staticmethod
    def dialect(url: str) -> str:
        if url.startswith("jdbc:postgresql:"):
            return "postgresql"
        if url.startswith("jdbc:derby:"):
            return "derby"
        return "generic"

    def catalog_name(self, table: str) -> str:
        # Spark's write.jdbc ships unquoted identifiers to Derby, which
        # normalizes them to uppercase in SYS.SYSTABLES
        return table.upper() if self.dialect(self.url) == "derby" else table

    def catalog_list_sql(self, schema: str = "public") -> str | None:
        """Dialect-gated listing of every table, one subquery-as-table.

        The reference's ``pg_catalog.pg_tables`` probe
        (``etl-glue-load-to-postgres.py:62-66``) without its per-table
        ``tablename`` predicate, or Derby's ``SYS.SYSTABLES``.  ``None`` →
        unknown dialect.
        """
        if any(c in schema for c in "'\";"):
            raise ValueError(f"suspicious identifier: {schema!r}")
        d = self.dialect(self.url)
        if d == "postgresql":
            return (
                "(SELECT tablename FROM pg_catalog.pg_tables "
                f"WHERE schemaname = '{schema}')"
            )
        if d == "derby":
            return "(SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T')"
        return None

    def catalog_probe_sql(self, table: str, schema: str = "public") -> str | None:
        """Dialect-gated existence probe, shipped to the DB as a
        subquery-as-table (S6 JDBC query pushdown).

        On Postgres this is the reference's EXACT probe
        (``etl-glue-load-to-postgres.py:62-66``): SELECT tablename FROM
        pg_catalog.pg_tables filtered on schemaname/tablename.  On Derby
        (the in-sandbox executor) the equivalent catalog is
        ``SYS.SYSTABLES``.  ``None`` → unknown dialect, caller falls back
        to the universal zero-row probe.
        """
        if any(c in table + schema for c in "'\";"):
            raise ValueError(f"suspicious identifier: {table!r}/{schema!r}")
        d = self.dialect(self.url)
        if d == "postgresql":
            return (
                "(SELECT tablename FROM pg_catalog.pg_tables "
                f"WHERE schemaname = '{schema}' AND tablename = '{table}')"
            )
        if d == "derby":
            return (
                "(SELECT TABLENAME FROM SYS.SYSTABLES "
                f"WHERE TABLETYPE = 'T' AND TABLENAME = '{self.catalog_name(table)}')"
            )
        return None

    def _reader(self, spark: SparkSession, dbtable: str) -> DataFrameReader:
        reader = spark.read.format("jdbc").option("url", self.url).option("dbtable", dbtable)
        for k, v in self.properties.items():
            reader = reader.option(k, v)
        return reader

    def _subquery(self, sql: str) -> DataFrame:
        return self._reader(self.spark, f"{sql} subquery_t").load()

    def list_tables(self) -> set[str] | None:
        list_sql = self.catalog_list_sql()
        if list_sql is None:
            return None
        return {r[0] for r in self._subquery(list_sql).collect()}

    def table_exists(self, table: str) -> bool:
        probe_sql = self.catalog_probe_sql(table)
        if probe_sql is not None:
            # the reference's probe shape: catalog subquery pushed down,
            # then a count() action (PG:62-67, S6+A1)
            return self._subquery(probe_sql).count() > 0
        # unknown dialect: zero-row probe — works on any DBMS (information
        # schema layouts differ, but SELECT-WHERE-1=0 is universal and the
        # schema fetch reads no rows)
        try:
            self._subquery(f"(SELECT * FROM {table} WHERE 1 = 0)")
            return True
        except Exception:
            return False

    def _write_properties(self, df: DataFrame) -> dict:
        """Connection properties for a write that may create ``table``.

        Spark's Derby dialect creates string columns as CLOB, and Derby
        cannot compare a CLOB: once the fact exists, the ``skip_if_loaded``
        probe's pushed-down filter on the string partition columns fails
        with SQLState 42818.  On Derby the strings are created as VARCHAR
        of Derby's maximum length (32672 characters) instead; Spark applies
        ``createTableColumnTypes`` only when the write creates the table.
        """
        props = dict(self.properties)
        if self.dialect(self.url) == "derby" and "createTableColumnTypes" not in props:
            strings = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
            if strings:
                props["createTableColumnTypes"] = ", ".join(
                    f"`{c}` VARCHAR(32672)" for c in strings
                )
        return props

    def create(self, df: DataFrame, table: str) -> None:
        df.write.jdbc(self.url, table, properties=self._write_properties(df))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").jdbc(self.url, table, properties=self._write_properties(df))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return self._reader(spark, table).load()


class ParquetWarehouse(Warehouse):
    """Filesystem warehouse with JDBC-equivalent create/append semantics.

    Stand-in used when no JDBC driver jar is available (this container);
    the load plan (plans/warehouse.py) is written against the ``Warehouse``
    interface so swapping in ``JdbcWarehouse`` is a constructor change.
    """

    def __init__(self, root: str):
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def table_exists(self, table: str) -> bool:
        p = self._path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def create(self, df: DataFrame, table: str) -> None:
        df.write.mode("errorifexists").parquet(self._path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self._path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self._path(table))
