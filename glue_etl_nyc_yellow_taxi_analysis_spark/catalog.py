"""Session-catalog management — the Glue Data Catalog replacement.

The reference registers its star schema in the Glue Data Catalog with
driver-side boto3 calls plus a catalog-updating sink
(``etl-glue-nyc-yellow-data-model.py:37-100`` ``create_db_if_not_exists`` /
``check_table_exists``; ``:60-71, 358-371`` getSink + setCatalogInfo +
glueparquet).  Here the Spark SQL session catalog plays that role: databases
via DDL, tables via ``saveAsTable`` over snappy parquet, reads via
``spark.table``.  On a cluster the same code talks to a Hive metastore /
Unity-style catalog with zero changes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def ensure_database(spark: SparkSession, database: str) -> None:
    """CREATE DATABASE IF NOT EXISTS (reference: boto3 create_database, DM:37-57)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")


def table_exists(spark: SparkSession, database: str, table: str) -> bool:
    """Existence probe (reference: boto3 get_table try/except, DM:74-86)."""
    return spark.catalog.tableExists(f"{database}.{table}")


def save_table(
    df: DataFrame,
    database: str,
    table: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned snappy-parquet catalog sink.

    Replaces GlueContext.getSink(partitionKeys, compression="snappy",
    enableUpdateCatalog=True) + setCatalogInfo + "glueparquet"
    (DM:60-71, 358-371).  ``saveAsTable`` registers/updates the table in the
    session catalog; partition columns become real directory partitions so
    reads with partition predicates prune files (the S7→F4 contract).
    """
    fqn = f"{database}.{table}"
    spark = df.sparkSession
    if partition_by and mode == "overwrite" and spark.catalog.tableExists(fqn):
        # saveAsTable(overwrite) would replace the WHOLE table; insertInto
        # honors dynamic partition overwrite — only the partitions present
        # in ``df`` are replaced (the incremental monthly-ingest contract).
        # The conf is scoped to THIS write and restored after: leaving the
        # session flipped to dynamic silently changes every later plain
        # overwrite write (stale partitions survive a truncating rewrite —
        # review r4).
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "dynamic")
        try:
            df.write.mode("overwrite").insertInto(fqn)
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        return
    writer = df.write.mode(mode).format("parquet").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(fqn)


def save_bucketed_table(
    df: DataFrame,
    database: str,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog sink — the co-located-join layout.

    Two tables bucketed by the same key into the same bucket count join
    WITHOUT a shuffle (asserted in tests/test_plans.py): at 100 TB this
    converts every fact↔fact join on the bucket key from a full-network
    exchange into a local merge.  ``sortBy`` additionally pre-sorts buckets
    so the join skips its sort step.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .option("compression", "snappy")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(f"{database}.{table}")


def create_table_if_not_exists(
    spark: SparkSession,
    build: Callable[[SparkSession], DataFrame],
    database: str,
    table: str,
    partition_by: list[str] | None = None,
) -> bool:
    """Idempotent dimension create (DM:89-100). Returns True if created.

    ``build`` makes the table's DataFrame and is called only when the table
    is missing, so a re-run builds nothing.
    """
    if table_exists(spark, database, table):
        return False
    save_table(build(spark), database, table, partition_by=partition_by, mode="errorifexists")
    return True


def read_table(spark: SparkSession, database: str, table: str) -> DataFrame:
    """Catalog table scan (reference: create_data_frame.from_catalog, PG:68-70)."""
    return spark.table(f"{database}.{table}")
