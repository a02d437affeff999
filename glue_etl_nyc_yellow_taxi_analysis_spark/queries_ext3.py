"""Extension batch III — TPC-H SQL-shape completion (§3.3 ad-hoc SQL).

Completes the feasible TPC-H suite over the driver testdata.  With the
shapes already shipped (Q1/Q3/Q4/Q5/Q7/Q14/Q19) this batch brings the
engine to 16 of the 22 TPC-H queries; the remaining six (Q2/Q9/Q11/Q16/
Q20 and verbatim Q12) need `partsupp` / `l_commitdate` columns the
testdata does not carry, so four of them ship here as adapted shapes that
preserve the plan structure (outer-join distribution, late-supplier
EXISTS/NOT-EXISTS, country-code anti-join) on the columns that do exist.

Every query runs the SAME dialect-neutral SQL string on Spark and DuckDB
(the string is its own oracle), with the repo's decimal-exact aggregation
conventions: double sums through DECIMAL(18,4), threshold comparisons
multiplied out to exact decimal arithmetic (never `x < avg(...)` on
floats — summation order differs across engines and flips boundary rows).

Reference: glue_job_scripts/etl-glue-load-to-postgres.py:1 (the
reference's SQL-over-tables surface; SURVEY §3.3).
"""

from __future__ import annotations

from .paths import scratch
from .queries_ext import SQL_DOC_CHUNK
from .registry import register, sql_query
from .tables import TOKS_SQL

_REV = (
    "SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))"
)


# --------------------------------------------------------------------------
# Q8 — national market share
# --------------------------------------------------------------------------

MARKET_SHARE_SQL = """
SELECT o_year,
       CAST(ROUND(
         CAST(SUM(CASE WHEN nation = 'NATION_7' THEN volume
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE), 4) AS DOUBLE) AS mkt_share
FROM (
  SELECT YEAR(o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
           AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA'
    AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    AND p.p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""

sql_query(
    "q_sql_market_share",
    MARKET_SHARE_SQL,
    ("part", "supplier", "lineitem", "orders", "customer", "nation", "region"),
    """§3.3 ad-hoc SQL: one nation's revenue share within its region by
    year (TPC-H Q8 shape) — the deepest join tree in the suite (7 tables,
    nation joined twice).  At scale every dimension side broadcasts; the
    only shuffle is lineitem⋈orders.  Share is a decimal-exact
    numerator/denominator with ONE double division at the end.  Oracle is
    the same string.""",
)


# --------------------------------------------------------------------------
# Q12 (adapted) — priority class counts by return flag
# --------------------------------------------------------------------------

SHIP_PRIORITY_CLASSES_SQL = """
SELECT l.l_returnflag,
       COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""

sql_query(
    "q_sql_priority_classes",
    SHIP_PRIORITY_CLASSES_SQL,
    ("orders", "lineitem"),
    """§3.3 ad-hoc SQL: urgent-vs-other order counts per line category
    (TPC-H Q12 shape; l_returnflag stands in for the l_shipmode column the
    testdata lacks).  Conditional COUNT(CASE...) is the map-side-combinable
    form — one shuffle on the join, partial aggregation before it.
    Oracle is the same string.""",
    bench=False,
)


# --------------------------------------------------------------------------
# Q13 (adapted) — customer order-count distribution
# --------------------------------------------------------------------------

CUST_DISTRIBUTION_SQL = """
WITH c_orders AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

sql_query(
    "q_sql_cust_distribution",
    CUST_DISTRIBUTION_SQL,
    ("customer", "orders"),
    """§3.3 ad-hoc SQL: how many customers placed how many qualifying
    orders (TPC-H Q13 shape; the priority filter stands in for the
    o_comment NOT LIKE the testdata lacks).  The LEFT JOIN keeps
    zero-order customers in the histogram — COUNT(o_orderkey) counts
    non-null matches only.  Two aggregations, each map-side combinable.
    Oracle is the same string.""",
)


# --------------------------------------------------------------------------
# Q15 — top supplier by quarterly revenue
# --------------------------------------------------------------------------

TOP_SUPPLIER_SQL = f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         CAST(ROUND({_REV}, 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue0 r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
ORDER BY s.s_suppkey
"""

sql_query(
    "q_sql_top_supplier",
    TOP_SUPPLIER_SQL,
    ("supplier", "lineitem"),
    """§3.3 ad-hoc SQL: supplier(s) with the maximum quarterly revenue
    (TPC-H Q15 shape).  The CTE is computed once and reused for both the
    join and the scalar-subquery MAX (Spark materializes it as a reused
    exchange).  Revenue is decimal-exact then rounded, so the equality
    against MAX is safe cross-engine.  Oracle is the same string.""",
)


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue
# --------------------------------------------------------------------------

SMALL_QTY_REVENUE_SQL = """
WITH part_qty AS (
  SELECT l_partkey, COUNT(*) AS cnt,
         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS total_qty
  FROM lineitem
  GROUP BY l_partkey
)
SELECT CAST(ROUND(
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0,
       2) AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN part_qty pq ON pq.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND CAST(l.l_quantity AS DECIMAL(18,4)) * pq.cnt * 5 < pq.total_qty
"""

sql_query(
    "q_sql_small_qty_revenue",
    SMALL_QTY_REVENUE_SQL,
    ("lineitem", "part"),
    """§3.3 ad-hoc SQL: average yearly revenue lost if small-quantity
    orders stopped (TPC-H Q17 shape).  The correlated `l_quantity <
    0.2*AVG(...)` is decorrelated into a per-part aggregate joined back —
    one extra map-side-combinable agg instead of a per-row subquery — and
    the threshold is multiplied out (`qty*cnt*5 < sum`) so the comparison
    is exact decimal arithmetic on both engines; a float AVG's
    summation-order ulp can flip boundary rows (quantities here are
    integral, so `qty == 0.2*avg` genuinely occurs).  Oracle is the same
    string.""",
    bench=False,
)


# --------------------------------------------------------------------------
# Q18 — large-volume customers
# --------------------------------------------------------------------------

LARGE_VOLUME_CUST_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 170
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""

sql_query(
    "q_sql_large_volume_cust",
    LARGE_VOLUME_CUST_SQL,
    ("customer", "orders", "lineitem"),
    """§3.3 ad-hoc SQL: customers whose orders exceed a total-quantity
    threshold (TPC-H Q18 shape).  The IN-subquery is a grouped HAVING over
    the fact — Catalyst plans it as an aggregate + left-semi join, so the
    fact is read twice but shuffled on the same key both times.  The
    HAVING threshold is decimal-exact (quantities are integral; a float
    sum's ulp could flip an order at exactly 170).  Oracle is the same
    string.""",
)


# --------------------------------------------------------------------------
# Q21 (adapted) — suppliers who kept orders waiting
# --------------------------------------------------------------------------

WAITING_SUPPLIERS_SQL = """
WITH lateline AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
              THEN 1 ELSE 0 END AS is_late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, COUNT(*) AS numwait
FROM lateline l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE l1.is_late = 1
  AND n.n_name = 'NATION_2'
  AND EXISTS (
    SELECT 1 FROM lateline l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lateline l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.is_late = 1
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""

sql_query(
    "q_sql_waiting_suppliers",
    WAITING_SUPPLIERS_SQL,
    ("lineitem", "orders", "supplier", "nation"),
    """§3.3 ad-hoc SQL: suppliers who were the SOLE late shipper on
    multi-supplier finished orders (TPC-H Q21 shape; lateness is
    shipdate > orderdate+60d because the testdata lacks
    l_commitdate/l_receiptdate).  Lateness is precomputed ONCE in a CTE so
    both EXISTS subqueries correlate on pure equality (the scale-safe form
    — Catalyst turns them into left-semi/left-anti joins on l_orderkey,
    no per-row re-evaluation of the orders join).  Oracle is the same
    string.""",
)


# --------------------------------------------------------------------------
# Q22 (adapted) — global sales opportunity
# --------------------------------------------------------------------------

GLOBAL_SALES_OPP_SQL = """
WITH pos AS (
  SELECT COUNT(*) AS cnt, SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS total
  FROM customer
  WHERE c_acctbal > 0.0
    AND SUBSTRING(c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17')
)
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS totacctbal
FROM (
  SELECT SUBSTRING(c.c_name, 17, 2) AS cntrycode, c.c_acctbal
  FROM customer c, pos
  WHERE SUBSTRING(c.c_name, 17, 2) IN ('13', '31', '23', '29', '30', '18', '17')
    AND CAST(c.c_acctbal AS DECIMAL(18,4)) * pos.cnt > pos.total
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""

sql_query(
    "q_sql_global_sales_opp",
    GLOBAL_SALES_OPP_SQL,
    ("customer", "orders"),
    """§3.3 ad-hoc SQL: above-average-balance customers with no open
    orders, by country code (TPC-H Q22 shape; the code is the c_name
    suffix and the anti-join is on open orders, since the testdata lacks
    c_phone and every customer has SOME order).  The 'above average'
    comparison is multiplied out (`bal*cnt > total`) so it is exact
    decimal arithmetic; the one-row `pos` CTE cross-joins (broadcast) and
    the NOT EXISTS becomes a left-anti join on o_custkey.  Oracle is the
    same string.""",
    bench=False,
)


# --------------------------------------------------------------------------
# Training-data quality ops II — PII scrub, token entropy, repetition
# --------------------------------------------------------------------------

def q_pii_scrub(spark, sf_dir):
    """PII redaction over the corpus — emails and phone-shaped tokens to
    placeholder tags, all JVM regexp (one Project, zero shuffles; at
    100 TB this is a pure map stage).  The synthetic corpus carries no
    PII, so the query plants a deterministic email+phone per doc (built
    from doc_id) BEFORE scrubbing — the redaction is real and the oracle
    hash proves both engines scrub identically."""
    from pyspark.sql import functions as F

    from .tables import _t

    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        F.lit(" now"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(aug, r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
        r"555-[0-9]{4}",
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.substring(scrub, -40, 40).alias("scrubbed_tail"),
    )


PII_SCRUB_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-'
              || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' now' AS t
  FROM documents
)
SELECT doc_id,
       right(regexp_replace(
               regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                              '<EMAIL>', 'g'),
               '555-[0-9]{4}', '<PHONE>', 'g'), 40) AS scrubbed_tail
FROM aug
"""

register(q_pii_scrub, PII_SCRUB_SQL)


def q_token_entropy(spark, sf_dir):
    """Per-document Shannon entropy of the token distribution — the
    information-density quality signal (low entropy = boilerplate /
    repetition).  Computed as log2(n) - sum(c*log2 c)/n so every log is
    of an integer count (cross-engine deterministic inputs); explode →
    two aggregations, both keyed on doc_id so the second groupBy reuses
    the first shuffle's partitioning."""
    from pyspark.sql import functions as F

    from .operators import text
    from .tables import _t

    d = _t(spark, sf_dir, "documents")
    cnts = (
        d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    # the per-term c*log2(c) doubles are rounded to 8dp and summed in
    # DECIMAL — a raw double sum accumulates in partial-agg order and can
    # flip the 4dp boundary vs the oracle's sequential sum on documents
    # with large vocabularies (review r4; same dsum rationale)
    return cnts.groupBy("doc_id").agg(
        F.round(
            F.log2(F.sum("c"))
            - F.sum(
                F.round(F.col("c") * F.log2("c"), 8).cast("decimal(18,8)")
            ).cast("double")
            / F.sum("c"),
            4,
        ).alias("token_entropy")
    )


TOKEN_ENTROPY_SQL = """
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
)
SELECT doc_id,
       ROUND(LOG2(SUM(c))
             - CAST(SUM(CAST(ROUND(c * LOG2(c), 8) AS DECIMAL(18,8)))
                    AS DOUBLE) / SUM(c), 4) AS token_entropy
FROM cnt
GROUP BY doc_id
"""


def q_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-token and
    duplicate-bigram fractions per document.  Pure array expressions
    (array_distinct / arrays_zip over slices) — one Project, zero
    shuffles, integer-ratio divisions so the doubles are bit-identical
    on any engine."""
    from pyspark.sql import functions as F

    from .operators import text
    from .tables import _t

    d = _t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    n = F.size(toks)
    bigs = F.transform(
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
        ),
        lambda p: F.concat_ws(" ", p["w1"], p["w2"]),
    )
    return d.select(
        "doc_id",
        F.round(F.lit(1.0) - F.size(F.array_distinct(toks)) / n, 4).alias(
            "dup_token_ratio"
        ),
        # single-token docs have no bigrams: 0/0 would throw under ANSI
        # while the DuckDB oracle serves NULL — emit NULL on both
        # (review r4; n is never 0: tokens() yields [""] on empty text)
        F.when(
            F.size(bigs) > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(bigs)) / F.size(bigs), 4
            ),
        ).alias("dup_bigram_ratio"),
    )


REPETITION_RATIO_SQL = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
b AS (
  SELECT doc_id, toks,
         list_transform(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                        p -> p[1] || ' ' || p[2]) AS bigs
  FROM t
)
SELECT doc_id,
       ROUND(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 4)
         AS dup_token_ratio,
       ROUND(1.0 - len(list_distinct(bigs)) * 1.0 / len(bigs), 4)
         AS dup_bigram_ratio
FROM b
"""


_TOKS = TOKS_SQL.format(c="text")
register(q_token_entropy, TOKEN_ENTROPY_SQL.format(toks=_TOKS))
register(q_repetition_ratio, REPETITION_RATIO_SQL.format(toks=_TOKS))


# --------------------------------------------------------------------------
# Recursive CTE + XML source (Spark 4 surface)
# --------------------------------------------------------------------------

RECURSIVE_MONTHS_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01 00:00:00'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months
  WHERE m < TIMESTAMP '2001-08-01 00:00:00'
)
SELECT m AS month, COUNT(o.o_orderkey) AS n_orders
FROM months
LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = m
GROUP BY m
ORDER BY m
"""


def q_sql_recursive_months(spark, sf_dir):
    """WITH RECURSIVE month spine (Spark 4 recursive CTE) left-joined to
    order counts — the SQL-native calendar densification (the DataFrame
    twin is q_gap_fill's sequence()).  The recursion is driver-tiny (80
    rows); the fact side aggregates on the join key, so the month spine
    broadcasts.  Oracle is the same string (DuckDB WITH RECURSIVE)."""
    from .sql import register_views, run_sql

    register_views(spark, sf_dir, tables=("orders",))
    return run_sql(spark, RECURSIVE_MONTHS_SQL)


register(q_sql_recursive_months, RECURSIVE_MONTHS_SQL, bench=False)


def q_xml_roundtrip(spark, sf_dir):
    """XML sink + source roundtrip (Spark 4 built-in XML data source —
    the config/feed interchange format; rowTag framing, explicit schema
    on read-back like the JSONL/ORC twins).  XML stays a small-dim
    format: row-oriented, no pushdown — never the fact path."""
    from pyspark.sql import functions as F

    from .tables import _t

    n = _t(spark, sf_dir, "nation")
    out_dir = scratch("sg_xml_") + "/data"
    n.coalesce(1).write.mode("overwrite").format("xml").option("rowTag", "nation").save(out_dir)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .load(out_dir)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_name").alias("last_nation"),
    )


SQL_XML_ROUNDTRIP = """
SELECT n_regionkey, COUNT(*) AS n_nations,
       MIN(n_name) AS first_nation, MAX(n_name) AS last_nation
FROM nation
GROUP BY n_regionkey
"""

register(q_xml_roundtrip, SQL_XML_ROUNDTRIP, bench=False)


# --------------------------------------------------------------------------
# Python UDTF (Spark 4 user-defined table function)
# --------------------------------------------------------------------------

def q_udtf_doc_chunk(spark, sf_dir):
    """Document chunking via a Python UDTF in a LATERAL join — the
    imperative row→table expansion surface (Spark 4).  Same semantics as
    the expression twin q_doc_chunk (size 50 / stride 40), same DuckDB
    oracle — proving the slow-path mechanism agrees with the preferred
    JVM-expression form.  UDTFs are for logic generators can't express;
    the twin is the scale path."""
    from .operators.udtf import chunk_docs_lateral
    from .tables import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_docs_lateral(spark, docs)


register(q_udtf_doc_chunk, SQL_DOC_CHUNK, bench=False)


# --------------------------------------------------------------------------
# DataSketches rollup (mergeable-sketch lifecycle)
# --------------------------------------------------------------------------

def q_sketch_rollup(spark, sf_dir):
    """Two-level sketch rollup — the 100 TB pre-aggregation pattern: build
    HLL distinct-user sketches per (event_type, day) ONCE, then answer the
    per-event_type rollup by MERGING the stored binary sketches
    (hll_union_agg) — the raw fact is never rescanned for the coarser
    grain.  At scale the daily sketch table is metadata-sized; every
    further rollup (weekly, all-time, cross-type) is a merge over it.
    KLL value quantiles ride the same pass (per final group — this build
    exposes only a binary kll merge, see inline note).

    BOUNDS oracle (VERDICT r3 item 7): sketch estimates are
    engine-specific, so the declared output carries the exact n_events
    plus per-group verdicts — HLL estimate within max(5%, ±2) of the
    exact COUNT DISTINCT (lgK=12 → rsd≈1.6%, 5% ≈ 3σ; measured relerr
    ≤ 0.8% across sf0.001/0.01/0.1) and the KLL median within 10% of the
    exact percentile (k=200 rank error ~1.7%; measured ≤ 2.6%).  The
    exact twins are computed in the same query; the oracle asserts the
    verdicts hold and the counts match exactly."""
    from pyspark.sql import functions as F

    from .tables import _t

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("users_sketch"),
        F.count("*").alias("n"),
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("users_sketch")).alias("est_users"),
        F.sum("n").alias("n_events"),
    )
    # KLL lacks an N-ary union aggregate in this build (kll_sketch_merge_*
    # is a binary scalar), so quantile sketches build per final group —
    # still one pass, still mergeable pairwise for incremental loads
    # CASE: kll_sketch_get_quantile_double RAISES on the NULL buffer an
    # all-NULL value group produces — skip the probe when the group has
    # no values (degenerate-corpus sweep finding)
    quant = ev.groupBy("event_type").agg(
        F.round(
            F.expr(
                "CASE WHEN count(value) > 0 THEN"
                " kll_sketch_get_quantile_double("
                "kll_sketch_agg_double(value), 0.5) END"
            ),
            4,
        ).alias("est_med_value")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("ex_users"),
        F.expr("percentile(value, 0.5)").alias("ex_med"),
    )
    # eqNullSafe joins: a NULL event_type is a real group on both
    # engines and must survive the facet joins
    q2, e2 = quant.withColumnRenamed("event_type", "qk"), exact.withColumnRenamed(
        "event_type", "ek"
    )
    return (
        rolled.join(q2, rolled["event_type"].eqNullSafe(q2["qk"]))
        .join(e2, rolled["event_type"].eqNullSafe(e2["ek"]))
        .select(
            "event_type",
            "n_events",
            # groups with no users / no values have nothing to bound:
            # vacuously TRUE, matching the oracle's constant
            F.coalesce(
                F.abs(F.col("est_users") - F.col("ex_users"))
                <= F.greatest(0.05 * F.col("ex_users"), F.lit(2.0)),
                F.lit(True),
            ).alias("users_within_5pct"),
            F.coalesce(
                F.abs(F.col("est_med_value") - F.col("ex_med"))
                <= 0.10 * F.abs(F.col("ex_med")) + 1e-6,
                F.lit(True),
            ).alias("med_within_10pct"),
        )
    )


SQL_SKETCH_ROLLUP_BOUNDS = """
SELECT event_type, COUNT(*) AS n_events,
       TRUE AS users_within_5pct,
       TRUE AS med_within_10pct
FROM events GROUP BY event_type
"""

register(q_sketch_rollup, SQL_SKETCH_ROLLUP_BOUNDS, bench=False)
