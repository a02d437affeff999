"""Local replica of the driver's correctness gate.

Runs every declared query on Spark and (when an oracle exists) the matching
SQL on DuckDB over the same parquet, then compares row count, column names,
and an order-insensitive value hash.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import ORACLE, QUERIES
from glue_etl_nyc_yellow_taxi_analysis_spark.tables import TABLES
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark


def norm_cell(v):
    import datetime as dt
    from decimal import Decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        # BIT-EXACT: the external driver hashes exact values, so any
        # last-ULP divergence between Spark and DuckDB must fail HERE.
        # (A 6-decimal collapse here let 5 ULP bugs through in r1+r2.)
        return repr(v) if v == v else "nan"
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def pandas_kind(dtype) -> str:
    """Collapse a pandas dtype to the kind class that decides how the
    external driver's canonicalizer will stringify values: integers,
    floats and bools hash differently even when values agree (53 vs
    53.0 vs True)."""
    k = getattr(dtype, "kind", "O")
    return {"u": "i"}.get(k, k)


def spark_pandas_kinds(schema, rows, cols):
    """Predict the pandas dtype kind the driver's toPandas() yields per
    column: integral Spark types -> 'i' ('f' when the column actually
    holds a null, matching Arrow's null promotion), float/double -> 'f',
    boolean -> 'b', everything else -> 'O' (not kind-checked)."""
    from pyspark.sql import types as _T

    kinds = {}
    for idx, f in enumerate(schema.fields):
        t = f.dataType
        if isinstance(t, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)):
            has_null = any(r[idx] is None for r in rows)
            kinds[cols[idx]] = "f" if has_null else "i"
        elif isinstance(t, (_T.FloatType, _T.DoubleType)):
            kinds[cols[idx]] = "f"
        elif isinstance(t, _T.BooleanType):
            has_null = any(r[idx] is None for r in rows)
            kinds[cols[idx]] = "O" if has_null else "b"
        else:
            kinds[cols[idx]] = "O"
    return kinds


def dtype_kind_mismatches(spark_kinds, duck_pdf):
    """The driver canonicalizes Spark via toPandas() and the oracle via
    duckdb .df(); a numeric-kind mismatch between the two frames (e.g.
    DuckDB SUM(BIGINT) -> HUGEINT -> float64 vs Spark int64) hash-fails
    at the driver even with identical values (53 vs 53.0).  Temporal /
    object columns are excluded (their value hash is compared anyway)."""
    bad = []
    for c, ks in spark_kinds.items():
        if c not in duck_pdf.columns:
            continue
        kd = pandas_kind(duck_pdf[c].dtype)
        numeric = {"i", "f", "b"}
        if (ks in numeric or kd in numeric) and ks != kd:
            bad.append(f"{c}: spark={ks} oracle={kd}")
    return bad


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # simulate the external driver: a bare session, none of
        # session.py's tuned config (catches hidden dependencies on it)
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        # Driver-hazard lint: the external driver canonicalizes via pandas
        # (toPandas vs duckdb.df()), where list/map/struct cells are
        # unhashable in sort_values and Decimal-vs-float64 dtypes hash
        # differently even when values agree.  The driver canonicalizes
        # EVERY query's output — including rows-only ones (r2:
        # q_multimodal_features crashed its canonicalizer), so the lint
        # applies to every declared query.
        from pyspark.sql import types as _T

        hazards = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType,
                (_T.DecimalType, _T.ArrayType, _T.MapType, _T.StructType),
            )
        ]
        if hazards:
            print(f"FAIL  {name}: driver-hazard output dtypes on {hazards}")
            failures.append(name)
            continue
        took = time.time() - t0
        sql = ORACLE.get(name)
        if sql is None:
            print(f"rows  {name}: {len(rows)} rows ({took:.1f}s) [rows-only]")
            if len(rows) == 0 and name != "q_join_anti":
                print(f"      WARNING: empty result")
            continue
        try:
            res = con.execute(sql)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
            o_pdf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        kind_bad = dtype_kind_mismatches(
            spark_pandas_kinds(df.schema, rows, cols), o_pdf
        )
        if kind_bad:
            print(f"FAIL  {name}: driver dtype-kind mismatch: {kind_bad}")
            failures.append(name)
            continue
        ok_n = len(rows) == len(o_rows)
        ok_c = sorted(cols) == sorted(o_cols)
        ok_h = value_hash(cols, rows) == value_hash(o_cols, o_rows)
        status = "OK  " if (ok_n and ok_c and ok_h) else "FAIL"
        print(
            f"{status}  {name}: rows {len(rows)}/{len(o_rows)} cols={ok_c} hash={ok_h}"
            f" ({took:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_c:
                print(f"      spark cols: {sorted(cols)}\n      duck  cols: {sorted(o_cols)}")
            elif ok_n and len(rows) <= 12:
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                s_lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
                oo = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
                d_lines = sorted("|".join(norm_cell(r[i]) for i in oo) for r in o_rows)
                for a, b in zip(s_lines, d_lines):
                    if a != b:
                        print(f"      spark: {a}\n      duck : {b}")
    print("\n" + ("ALL OK" if not failures else f"FAILURES: {failures}"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
