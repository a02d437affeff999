"""Extension batch X — TPC-H shape completion (adapted) + corpus-curation
gates.

With ext3's 16 shapes, the six TPC-H queries left (Q2/Q6/Q9/Q11/Q16/Q20)
all need the `partsupp` table or columns the driver testdata lacks; they
ship here as adapted shapes that preserve each query's PLAN STRUCTURE on
the columns that exist (lineitem's (partkey, suppkey, extendedprice)
serves as the supply-cost relation):

* ``q_sql_min_cost_supplier`` — Q2: correlated scalar-subquery min over a
  twice-referenced CTE (the decorrelated min-join).
* ``q_sql_forecast_revenue`` — Q6: the pure single-table band-predicate
  aggregate.
* ``q_sql_product_profit`` — Q9: 5-table profit decomposition by nation ×
  year with a decimal-exact mixed-sign amount.
* ``q_sql_important_parts`` — Q11: grouped value vs a scalar-subquery
  threshold over the same CTE (HAVING-over-total shape).
* ``q_sql_parts_supplier_cnt`` — Q16: COUNT(DISTINCT) with a NOT-IN
  anti-subquery.
* ``q_sql_promo_suppliers`` — Q20: nested EXISTS over a pre-aggregated
  CTE (the share-threshold supplier screen).

All six run the SAME dialect-neutral string on Spark and DuckDB (the
string is its own oracle).  Decimal widths are kept ≤ DECIMAL(30,7)
because DuckDB saturates at precision 38 and its SUM() already widens to
38 — every product/threshold first re-casts to a narrow decimal.

Plus two LLM-corpus curation gates no earlier batch covers:

* ``q_contamination_check`` — benchmark-overlap decontamination: flag
  documents sharing any 5-gram shingle with a held-out benchmark set
  (doc_id % 97), per-source contamination rates.
* ``q_quality_filter_funnel`` — Gopher-style quality rule funnel with
  per-rule cumulative drop accounting in ONE scan.

Reference anchor: the reference's analytics layer is SQL-over-star
(etl-glue-nyc-yellow-data-model.py:318-333, SURVEY §3.3); the curation
gates extend §2.9's documents-table family.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .registry import register, sql_query
from .tables import TOKS_SQL, _t


# --------------------------------------------------------------------------
# Q2 (adapted) — minimum-cost supplier
# --------------------------------------------------------------------------

MIN_COST_SUPPLIER_SQL = """
WITH cost AS (
  SELECT l.l_partkey, l.l_suppkey,
         MIN(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS supply_cost
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY 1, 2
)
SELECT s.s_name, n.n_name, c.l_partkey AS p_partkey,
       CAST(c.supply_cost AS DOUBLE) AS supply_cost
FROM cost c
JOIN part p ON p.p_partkey = c.l_partkey
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_type = 'STANDARD' AND p.p_size < 15
  AND c.supply_cost = (SELECT MIN(c2.supply_cost) FROM cost c2
                       WHERE c2.l_partkey = c.l_partkey)
ORDER BY s.s_name, p_partkey
LIMIT 100
"""

sql_query(
    "q_sql_min_cost_supplier",
    MIN_COST_SUPPLIER_SQL,
    ("lineitem", "supplier", "nation", "region", "part"),
    """§3.3 ad-hoc SQL: cheapest supplier per qualifying part (TPC-H Q2
    shape; lineitem's min extendedprice per (part, supplier) stands in
    for partsupp.ps_supplycost).  The correlated `= (SELECT MIN ...)`
    over a twice-referenced CTE is the decorrelated-min-join pattern —
    Catalyst rewrites it to an aggregate + equi-join, so the CTE's
    shuffle is reused, not recomputed per row.  Decimal min comparison
    is exact; (s_name, p_partkey) is unique so ORDER BY + LIMIT 100 is
    deterministic.  Oracle is the same string.""",
)


# --------------------------------------------------------------------------
# Q6 — forecast revenue change
# --------------------------------------------------------------------------

FORECAST_REVENUE_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

sql_query(
    "q_sql_forecast_revenue",
    FORECAST_REVENUE_SQL,
    ("lineitem",),
    """§3.3 ad-hoc SQL: revenue that would vanish if small-order
    discounts were dropped (TPC-H Q6, verbatim shape).  Pure
    scan + band predicates + one aggregate: at 100 TB this is the
    pushdown showcase — every predicate reaches the parquet row-group
    stats, no shuffle at all (partial aggregates merge into one row).
    Oracle is the same string.""",
    bench=False,
)


# --------------------------------------------------------------------------
# Q9 (adapted) — product-type profit by nation × year
# --------------------------------------------------------------------------

PRODUCT_PROFIT_SQL = """
SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
           - CAST(p.p_retailprice AS DECIMAL(12,2))
             * CAST(l.l_quantity AS DECIMAL(12,2))
             * CAST(0.6 AS DECIMAL(3,1)) AS amount
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE p.p_type = 'PROMO'
) profit
GROUP BY nation, o_year
"""

sql_query(
    "q_sql_product_profit",
    PRODUCT_PROFIT_SQL,
    ("lineitem", "supplier", "part", "orders", "nation"),
    """§3.3 ad-hoc SQL: per-nation per-year profit on one product line
    (TPC-H Q9 shape; cost basis = 60 % of part retail price since the
    testdata has no ps_supplycost).  Mixed-sign decimal amounts sum
    exactly; every decimal operand is re-cast narrow so the widest
    intermediate stays under DuckDB's precision-38 ceiling.  The join
    tree is the classic fact + 4 broadcast dims with the part filter
    pushed below the join.  Oracle is the same string.""",
)


# --------------------------------------------------------------------------
# Q11 (adapted) — important parts by inventory value
# --------------------------------------------------------------------------

IMPORTANT_PARTS_SQL = """
WITH v AS (
  SELECT l.l_partkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS inv_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY 1
)
SELECT l_partkey, CAST(inv_value AS DOUBLE) AS inv_value
FROM v
WHERE inv_value > (SELECT CAST(SUM(inv_value) AS DECIMAL(24,4))
                          * CAST(0.001 AS DECIMAL(6,3)) FROM v)
"""

sql_query(
    "q_sql_important_parts",
    IMPORTANT_PARTS_SQL,
    ("lineitem", "supplier", "nation"),
    """§3.3 ad-hoc SQL: parts holding an outsized share of one nation's
    traded value (TPC-H Q11 shape).  The scalar-subquery threshold over
    the same CTE is the HAVING-over-grand-total pattern; the total is
    re-cast narrow before the fraction multiply so both engines stay in
    exact decimal (DuckDB's SUM widens to precision 38 — multiplying
    THAT overflows).  Oracle is the same string.""",
    bench=False,
)


# --------------------------------------------------------------------------
# Q16 (adapted) — supplier counts per part attribute
# --------------------------------------------------------------------------

PARTS_SUPPLIER_CNT_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#13'
  AND p.p_type NOT IN ('PROMO', 'ECONOMY')
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
"""

sql_query(
    "q_sql_parts_supplier_cnt",
    PARTS_SUPPLIER_CNT_SQL,
    ("part", "lineitem", "supplier"),
    """§3.3 ad-hoc SQL: how many suppliers can deliver each part profile
    (TPC-H Q16 shape; negative account balance stands in for the
    complaints LIKE-filter).  NOT IN over a never-null key column is
    safe and becomes a broadcast anti-join; COUNT(DISTINCT) rides the
    same shuffle as the group-by.  Group key is unique so the
    ORDER BY + LIMIT is deterministic.  Oracle is the same string.""",
    bench=False,
)


# --------------------------------------------------------------------------
# Q20 (adapted) — concentrated-activity suppliers
# --------------------------------------------------------------------------

PROMO_SUPPLIERS_SQL = """
WITH q AS (
  SELECT l_suppkey, l_partkey,
         SUM(CASE WHEN YEAR(l_shipdate) = 1996
                  THEN CAST(l_quantity AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS q96,
         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qall
  FROM lineitem
  GROUP BY 1, 2
)
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name IN ('NATION_5', 'NATION_15')
  AND EXISTS (
    SELECT 1 FROM q
    JOIN part p ON p.p_partkey = q.l_partkey
    WHERE q.l_suppkey = s.s_suppkey
      AND p.p_type = 'SMALL'
      AND CAST(q.q96 AS DECIMAL(18,4)) * 2 > CAST(q.qall AS DECIMAL(18,4))
  )
ORDER BY s_name
"""

sql_query(
    "q_sql_promo_suppliers",
    PROMO_SUPPLIERS_SQL,
    ("lineitem", "supplier", "nation", "part"),
    """§3.3 ad-hoc SQL: suppliers whose shipments of a product line
    concentrate in one year (TPC-H Q20 shape; the >50 %-of-quantity
    screen stands in for the ps_availqty threshold).  The EXISTS over a
    pre-aggregated CTE decorrelates to a semi-join on l_suppkey — the
    per-(supplier, part) reduction happens once, before the screen, so
    the heavy table is touched exactly once.  The ×2 comparison stays
    in narrow exact decimal on both engines.  Oracle is the same
    string.""",
    bench=False,
)


# --------------------------------------------------------------------------
# Benchmark-contamination check
# --------------------------------------------------------------------------

def contamination_hits(corpus_docs, bench_docs):
    """Doc ids in ``corpus_docs`` sharing ≥1 5-gram shingle with
    ``bench_docs`` (both documents-shaped frames) — frame-level so
    jobs.pretrain_prep shares the gate with q_contamination_check.
    Benchmark shingles are a DISTINCT broadcast; corpus docs hit them
    with ONE left-semi join on the shingle — no document text moves
    through the shuffle, only shingles.  Returns (doc_id, hit=1)."""
    bench_g = (
        bench_docs.select(F.explode(text.shingles("text", 5)).alias("g"))
        .distinct()
    )
    return (
        corpus_docs.select(
            "doc_id", F.explode(text.shingles("text", 5)).alias("g")
        )
        .join(F.broadcast(bench_g), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )


def q_contamination_check(spark, sf_dir):
    """Decontamination gate: per source, how many documents share at
    least one 5-gram shingle with the held-out benchmark set
    (doc_id % 97 == 0 — the stand-in for an eval benchmark).

    Shape at scale: benchmark shingles are a DISTINCT projection
    (benchmarks are small — broadcast), corpus docs hit them with ONE
    left-semi join on the shingle, then a distinct + per-source rollup.
    No document text ever moves through the shuffle, only shingles.
    Same 5-gram construction as operators/text.py shingles (n=5)."""
    d = _t(spark, sf_dir, "documents")
    hits = contamination_hits(
        d.filter(F.col("doc_id") % 97 != 0), d.filter(F.col("doc_id") % 97 == 0)
    )
    corpus = d.filter(F.col("doc_id") % 97 != 0).select("doc_id", "source")
    flagged = corpus.join(hits, "doc_id", "left")
    n_cont = F.sum(F.coalesce("hit", F.lit(0)))
    # share as integer parts-per-million via true integer division: the
    # one representation that is bit-identical across engines AND keeps
    # an int64 lane end-to-end (a ROUND(double) here diverges at the
    # last ULP between engines; a DuckDB SUM() is HUGEINT -> float64 in
    # the driver's pandas canonicalizer)
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_cont.cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contaminated_ppm",
            F.expr("CAST(n_contaminated * 1000000 DIV n_docs AS BIGINT)"),
        )
    )


SQL_CONTAMINATION_CHECK = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(toks) - 4, 1)),
                       i -> array_to_string(list_slice(toks, i + 1, i + 5),
                                            ' '))) AS gs
  FROM (SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents)
), bench AS (
  SELECT DISTINCT g FROM sh, LATERAL unnest(gs) AS u(g)
  WHERE doc_id % 97 = 0
), hits AS (
  SELECT DISTINCT s.doc_id
  FROM sh s, LATERAL unnest(s.gs) AS u(g)
  WHERE s.doc_id % 97 != 0 AND g IN (SELECT g FROM bench)
)
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS contaminated_ppm
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 97 != 0
GROUP BY 1
"""

register(q_contamination_check, SQL_CONTAMINATION_CHECK)


# --------------------------------------------------------------------------
# Quality-filter funnel
# --------------------------------------------------------------------------

def gopher_rules():
    """The 4 Gopher-style rule predicates as Columns over a
    documents-shaped frame — frame-level so jobs.pretrain_prep applies
    the SAME rules q_quality_filter_funnel accounts: length ≥ 200
    chars, mean word length in [3, 12], contains a stopword,
    type-token ratio ≥ 0.3.  Pure expressions, no rounding — the
    double comparisons are bit-identical on both engines."""
    toks = text.tokens("text")
    norm = text.normalized("text")
    n_tok = F.size(toks)
    mean_wl = (
        (F.length(norm) - (n_tok - F.lit(1))).cast("double")
        / n_tok.cast("double")
    )
    r1 = F.col("n_chars") >= 200
    r2 = (mean_wl >= 3.0) & (mean_wl <= 12.0)
    r3 = F.arrays_overlap(toks, F.array(F.lit("the"), F.lit("a"), F.lit("of")))
    r4 = (
        F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double")
        >= 0.3
    )
    return r1, r2, r3, r4


def q_quality_filter_funnel(spark, sf_dir):
    """Gopher-style corpus quality funnel, per source, in ONE scan:
    cumulative pass counts through the 4 ``gopher_rules`` — the
    per-rule drop accounting every corpus curation run reports."""
    d = _t(spark, sf_dir, "documents")
    r1, r2, r3, r4 = gopher_rules()
    flags = d.select(
        "source",
        r1.alias("p1"),
        (r1 & r2).alias("p12"),
        (r1 & r2 & r3).alias("p123"),
        (r1 & r2 & r3 & r4).alias("p1234"),
    )
    # NULL predicates (NULL text/n_chars) count as "did not pass", so a
    # source of only-NULL docs reports 0 passes, not NULL — matching the
    # oracle's CASE WHEN (degenerate-corpus sweep finding)
    def _passes(col, name):
        return (
            F.sum(F.when(F.col(col), 1).otherwise(0)).cast("long").alias(name)
        )

    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _passes("p1", "pass_len"),
        _passes("p12", "pass_wordlen"),
        _passes("p123", "pass_stopword"),
        _passes("p1234", "pass_ttr"),
    )


SQL_QUALITY_FILTER_FUNNEL = f"""
WITH flags AS (
  SELECT source,
         n_chars >= 200 AS r1,
         (CAST(length(norm) - (len(toks) - 1) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE)) BETWEEN 3.0 AND 12.0 AS r2,
         len(list_intersect(toks, ['the', 'a', 'of'])) > 0 AS r3,
         CAST(len(list_distinct(toks)) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) >= 0.3 AS r4
  FROM (SELECT source, n_chars,
               trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm,
               {TOKS_SQL.format(c='text')} AS toks
        FROM documents)
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
       CAST(SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT)
         AS pass_wordlen,
       CAST(SUM(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT)
         AS pass_stopword,
       CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS BIGINT)
         AS pass_ttr
FROM flags
GROUP BY source
"""

register(q_quality_filter_funnel, SQL_QUALITY_FILTER_FUNNEL)
