"""Execute the warehouse path against a REAL PostgreSQL server once.

The engine's `JdbcWarehouse` runs the reference Job-2 surface
(`etl-glue-load-to-postgres.py:62-88`): pg_catalog existence probe and
one-query table listing, first-time `write.jdbc` create, `mode("append")`
incremental load, JDBC read-back.  The in-repo driver gate executes it
against embedded Derby (always available); THIS script points the
identical code at Postgres so the pg dialect itself — the
`pg_catalog.pg_tables` probe and listing SQL and the JDBC type mapping of
the star contract (DecimalType(10,2) money, double fares, timestamps,
bigint keys) — has actually run (VERDICT r3 item 5).

Run in a FRESH process (the driver jar must be on the JVM classpath at
session creation):

    SPARK_GRAFT_PG_JAR=/path/to/postgresql-*.jar \
    python tools/pg_dialect_probe.py jdbc:postgresql://127.0.0.1:54329/sgtest postgres

Prints one JSON line {"ok": true, ...} on success; exits non-zero on any
mismatch.  tests/test_jdbc_postgres.py boots a throwaway server and runs
this under pytest (skipped when no server binaries or driver jar exist).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    url, user = sys.argv[1], sys.argv[2]
    password = sys.argv[3] if len(sys.argv) > 3 else None  # docker servers
    jar = os.environ["SPARK_GRAFT_PG_JAR"]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pg_dialect_probe")
        .config("spark.jars", jar)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from glue_etl_nyc_yellow_taxi_analysis_spark.plans import star
    from glue_etl_nyc_yellow_taxi_analysis_spark.tables import _taxi_fixture
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import JdbcWarehouse

    props = {"user": user, "driver": "org.postgresql.Driver"}
    if password:
        props["password"] = password
    wh = JdbcWarehouse(spark, url, props)
    table = "fact_uber_trips_probe"

    # the real Job-1 output: 26 columns incl. decimal(10,2) total_amount
    fact = star.build_fact(_taxi_fixture(spark), "2021", "1")
    n = fact.count()

    report: dict = {"dialect": wh.dialect(url), "rows": n}
    assert report["dialect"] == "postgresql", report

    # probe(false) -> create -> probe(true) -> append -> read-back, with
    # the one-query pg_catalog listing agreeing with each probe
    assert wh.table_exists(table) is False, "probe must miss before create"
    assert wh.catalog_name(table) not in wh.list_tables(), "listing must miss before create"
    wh.create(fact, table)
    assert wh.table_exists(table) is True, "pg_catalog probe must hit"
    assert wh.catalog_name(table) in wh.list_tables(), "pg_catalog listing must hit"
    wh.append(fact, table)
    back = wh.read(spark, table)
    report["rows_back"] = back.count()
    assert report["rows_back"] == 2 * n, report

    # type mapping of the contract as Postgres actually round-trips it:
    # DecimalType(10,2) -> numeric(10,2) -> decimal(10,2); FloatType
    # fares -> real -> float; IntegerType codes -> integer -> int;
    # DoubleType airport_fee -> double precision -> double
    dt = dict(back.dtypes)
    report["total_amount_type"] = dt["total_amount"]
    assert dt["total_amount"] == "decimal(10,2)", dt
    assert dt["fare_amount"] == "float", dt
    assert dt["airport_fee"] == "double", dt
    assert dt["passenger_count"] == "int", dt
    assert dt["trip_duration_minutes"] == "bigint", dt
    assert dt["store_and_fwd_flag"] == "int", dt

    # the column-level numeric scale as Postgres itself catalogued it
    probe = (
        spark.read.format("jdbc")
        .option("url", url)
        .option(
            "dbtable",
            "(SELECT numeric_precision, numeric_scale "
            "FROM information_schema.columns "
            f"WHERE table_name = '{table}' "
            "AND column_name = 'total_amount') t",
        )
    )
    for k, v in props.items():
        probe = probe.option(k, v)
    prec = probe.load().first()
    report["pg_numeric"] = [prec[0], prec[1]]
    assert (prec[0], prec[1]) == (10, 2), report

    # money survives exactly (decimal sum, order-free)
    from pyspark.sql import functions as F

    s_local = fact.agg(F.sum("total_amount").alias("s")).first()["s"]
    s_back = back.agg(F.sum("total_amount").alias("s")).first()["s"]
    report["sum_local"], report["sum_back"] = str(s_local), str(s_back)
    assert s_back == 2 * s_local, report

    report["ok"] = True
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
