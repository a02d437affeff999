"""Extension batch VI — bag-semantics set ops, binary functions, schema
alignment & evolution.

Completes the set-operation family with the ALL (bag) variants that
`q_set_ops` left out (Spark's ``intersectAll``/``exceptAll`` are
multiset operators — the earlier gotcha that ``exceptAll`` is NOT SQL
EXCEPT is now exercised head-on against ``EXCEPT ALL``), a binary/hash
function battery (md5 / sha2 / base64 / hex over document text), ragged
UNION alignment (``unionByName(allowMissingColumns=True)`` — the
multi-month backfill path when a new month adds a column), and on-disk
schema evolution (parquet ``mergeSchema`` read over mixed-schema
snapshots, the warehouse-migration read path).

Reference anchor: SURVEY §2.5 (set-like ops), §1.3 (schema system — the
reference re-derives schemas from parquet footers at DM:232; evolution
is what happens to that contract across months).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .paths import scratch
from .registry import register
from .tables import _t


# --------------------------------------------------------------------------
# Bag-semantics set operations
# --------------------------------------------------------------------------

def q_set_ops_all(spark, sf_dir):
    """INTERSECT ALL / EXCEPT ALL multiset semantics on (returnflag,
    linestatus, quantity) projections of two date-disjoint lineitem
    slices: duplicates are matched PAIRWISE, not collapsed — the bag
    algebra `q_set_ops`'s distinct variants don't cover.

    Scale shape: both operators compile to a single hash aggregate over
    the union with per-side counts (no sort), one shuffle each.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").alias("qty"),
        "l_shipdate",
    )
    a = li.filter("l_shipdate < TIMESTAMP_NTZ '1996-01-01'").drop("l_shipdate")
    b = li.filter("l_shipdate >= TIMESTAMP_NTZ '1996-01-01'").drop("l_shipdate")
    both = a.intersectAll(b).withColumn("op", F.lit("intersect_all"))
    only_a = a.exceptAll(b).withColumn("op", F.lit("except_all"))
    return (
        both.unionByName(only_a)
        .groupBy("op", "l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").cast("double").alias("sum_qty"))
    )


SQL_SET_OPS_ALL = """
WITH a AS (
  SELECT l_returnflag, l_linestatus, l_quantity AS qty
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
),
b AS (
  SELECT l_returnflag, l_linestatus, l_quantity AS qty
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
),
tagged AS (
  SELECT 'intersect_all' AS op, * FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
  UNION ALL
  SELECT 'except_all' AS op, * FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
)
SELECT op, l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(qty) AS DOUBLE) AS sum_qty
FROM tagged
GROUP BY op, l_returnflag, l_linestatus
"""

register(q_set_ops_all, SQL_SET_OPS_ALL)


# --------------------------------------------------------------------------
# Binary / hash function battery
# --------------------------------------------------------------------------

def q_binary_funcs(spark, sf_dir):
    """Binary-domain scalar battery over document text: md5 and sha2-256
    content digests (the fingerprint family behind dedup manifests),
    base64/hex encodings of the first bytes, and decoded-roundtrip length.

    All JVM codegen; every output is a hex/b64 string so the value hash
    is byte-comparable across engines.
    """
    docs = _t(spark, sf_dir, "documents")
    head = F.substring("text", 1, 12)
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256_hex"),
        F.base64(head.cast("binary")).alias("head_b64"),
        F.lower(F.hex(head.cast("binary"))).alias("head_hex"),
        F.length(F.unbase64(F.base64(F.col("text").cast("binary")))).alias(
            "rt_len"
        ),
    )


SQL_BINARY_FUNCS = """
SELECT doc_id,
       md5(text) AS md5_hex,
       sha256(text) AS sha256_hex,
       base64(CAST(substr(text, 1, 12) AS BLOB)) AS head_b64,
       lower(hex(substr(text, 1, 12))) AS head_hex,
       octet_length(from_base64(base64(CAST(text AS BLOB)))) AS rt_len
FROM documents
"""

register(q_binary_funcs, SQL_BINARY_FUNCS)


# --------------------------------------------------------------------------
# Ragged UNION alignment (multi-month backfill with a new column)
# --------------------------------------------------------------------------

def q_union_mixed_schema(spark, sf_dir):
    """unionByName(allowMissingColumns=True) over two month slices where
    the newer slice carries an extra column (the schema-drift backfill
    case `q_union_backfill`'s homogeneous union can't handle): missing
    columns are null-filled by NAME, never by position.
    """
    o = _t(spark, sf_dir, "orders")
    old = o.filter("o_orderdate < TIMESTAMP_NTZ '1996-01-01'").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new = o.filter("o_orderdate >= TIMESTAMP_NTZ '1996-01-01'").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.upper("o_orderpriority").alias("priority_code"),
    )
    u = old.unionByName(new, allowMissingColumns=True)
    return u.groupBy("priority_code").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_cust"),
    )


SQL_UNION_MIXED_SCHEMA = """
WITH u AS (
  SELECT o_orderkey, o_custkey, o_totalprice, NULL AS priority_code
  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice,
         upper(o_orderpriority) AS priority_code
  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
)
SELECT priority_code, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust
FROM u
GROUP BY priority_code
"""

register(q_union_mixed_schema, SQL_UNION_MIXED_SCHEMA, bench=False)


# --------------------------------------------------------------------------
# On-disk schema evolution (mergeSchema read)
# --------------------------------------------------------------------------

def q_schema_evolution(spark, sf_dir):
    """Parquet schema evolution: month 1 written with the v1 schema, month
    2 with an added column, read back as ONE table via ``mergeSchema`` —
    the warehouse-migration read path (the reference re-derives its
    schema from footers each run, DM:232; this is what those footers look
    like across a migration).  v1 rows surface the new column as NULL.

    Oracle recomputes the same aggregate from the source table, so the
    hash proves the evolved read is lossless.
    """
    ev = _t(spark, sf_dir, "events")
    out = scratch("sg_evo_") + "/t"
    # the v1/v2 split is EXHAUSTIVE: a NULL event_type fails both IN and
    # NOT IN (3-valued logic) and would silently vanish from the merged
    # table while the oracle keeps its NULL group (review r4)
    v1 = ev.filter("event_type IN ('click', 'view')").select(
        "event_id", "user_id", "event_type"
    )
    v2 = ev.filter(
        "event_type IS NULL OR event_type NOT IN ('click', 'view')"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value").cast("decimal(18,4)"), 2)
        .cast("double")
        .alias("value2"),
    )
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", True).parquet(out)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value2").isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(F.col("value2").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_v2"),
    )


SQL_SCHEMA_EVOLUTION = """
SELECT event_type, COUNT(*) AS n,
       -- value2 is NULL for every v1 row AND for v2 rows whose source
       -- value is NULL (round of NULL) — mirror both
       CAST(SUM(CASE WHEN event_type IN ('click', 'view')
                     OR value IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null,
       CAST(SUM(CASE WHEN event_type IS NULL
                     OR event_type NOT IN ('click', 'view')
                THEN CAST(ROUND(CAST(value AS DECIMAL(18,4)), 2)
                          AS DECIMAL(18,4)) END) AS DOUBLE) AS sum_v2
FROM events
GROUP BY event_type
"""

register(q_schema_evolution, SQL_SCHEMA_EVOLUTION, bench=False)
