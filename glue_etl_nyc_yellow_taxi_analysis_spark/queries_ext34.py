"""Extended inventory XXXIV — relational completeness + mixture lanes
(round 6, eighth batch).

- ``q_join_full_outer``: the one join type the inventory exercised only
  inside larger plans, as a first-class lane — high-balance customers
  FULL OUTER finished-order counts, with a three-way match_type so both
  unmatched sides are visible (and hash-checked) in the output.  Spark
  plans this as one shuffled or broadcast hash join; keys shuffle on
  custkey only.
- ``q_mixture_temperature``: temperature-scaled source sampling weights
  (w_i ∝ n_i^T with T = 1/2 — the sqrt scaling used for corpus
  rebalancing, e.g. multilingual re-weighting).  T = 1/2 keeps the
  power INSIDE IEEE sqrt, which is correctly rounded on both engines:
  s_i = floor(sqrt(n_tokens_i · 1e12)) (the only double touch,
  identical bigint→double rounding both sides), then share_e6 =
  s_i·1e6 div Σ s_j — exact bigint division, so the released weights
  are integral.  One keyed aggregate + one broadcast-back total.
- ``q_sql_group_by_all``: the Spark-4 SQL ergonomics surface (GROUP BY
  ALL / ORDER BY ALL, dialect-shared with DuckDB — the ONE SQL string
  runs verbatim on both engines): shipping-year × returnflag ×
  linestatus rollup with decimal-routed revenue.

Scale posture: the full-outer join shuffles on its key only (or
broadcasts the smaller filtered side); the mixture lane's total is a
one-row broadcast; GROUP BY ALL is a single keyed aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .registry import register
from .tables import DSUM_SQL, TOKS_SQL, _t, dsum


# ---------------------------------------------------------------------------
# q_join_full_outer — both unmatched sides as first-class output
# ---------------------------------------------------------------------------

_FOJ_BAL = 5000.0  # acctbal cut: leaves real unmatched rows on BOTH sides


def q_join_full_outer(spark, sf_dir):
    """High-balance customers FULL OUTER per-customer finished-order
    counts.  match_type labels the three regions; unmatched sides carry
    NULL segment / NULL counts, and COALESCE(custkey) keeps the key
    NOT-NULL in the output.  One equi-join on custkey — no plan fanout."""
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > _FOJ_BAL)
        .select(
            F.col("c_custkey").alias("l_key"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    ords = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("r_key"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
    )
    j = cust.join(ords, cust["l_key"] == ords["r_key"], "full")
    return j.select(
        F.coalesce("l_key", "r_key").cast("bigint").alias("custkey"),
        "segment",
        "n_orders",
        "total_spend",
        F.when(F.col("l_key").isNotNull() & F.col("r_key").isNotNull(), "both")
        .when(F.col("l_key").isNotNull(), "left_only")
        .otherwise("right_only")
        .alias("match_type"),
    )


SQL_JOIN_FULL_OUTER = f"""
WITH cust AS (
  SELECT c_custkey AS l_key, c_mktsegment AS segment
  FROM customer WHERE c_acctbal > {_FOJ_BAL}
), ords AS (
  SELECT o_custkey AS r_key, CAST(COUNT(*) AS BIGINT) AS n_orders,
         {DSUM_SQL.format(col='o_totalprice')} AS total_spend
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
)
SELECT CAST(COALESCE(l_key, r_key) AS BIGINT) AS custkey, segment,
       n_orders, total_spend,
       CASE WHEN l_key IS NOT NULL AND r_key IS NOT NULL THEN 'both'
            WHEN l_key IS NOT NULL THEN 'left_only'
            ELSE 'right_only' END AS match_type
FROM cust FULL JOIN ords ON cust.l_key = ords.r_key
"""

register(q_join_full_outer, SQL_JOIN_FULL_OUTER)


# ---------------------------------------------------------------------------
# q_mixture_temperature — sqrt-scaled (T = 1/2) source sampling weights
# ---------------------------------------------------------------------------

def mixture_shares_of(d):
    """Per-source T=1/2 sampling weights over a documents FRAME
    (frame-level so jobs.pretrain_prep shares the lane with
    q_mixture_temperature): s_i = floor(sqrt(n_tokens_i · 1e12)),
    share_e6 = s_i·1e6 div Σ s_j.  sqrt is the ONLY floating step and
    is IEEE-correctly-rounded over an identically-rounded bigint→double
    input on both engines; everything after is exact bigint arithmetic.
    NULL-text docs contribute 0 tokens.  The total is a one-row
    broadcast back onto the |sources|-row table."""
    n = d.groupBy("source").agg(
        F.sum(F.coalesce(F.size(text.tokens("text")), F.lit(0)))
        .cast("bigint")
        .alias("n_tokens")
    )
    s = n.withColumn(
        "s_scaled",
        F.floor(F.sqrt((F.col("n_tokens") * F.lit(10**12)).cast("double")))
        .cast("bigint"),
    )
    tot = s.agg(F.sum("s_scaled").cast("bigint").alias("t"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            "s_scaled",
            # an all-NULL-text corpus has total weight 0: the share is
            # undefined, not a crash (hypothesis-gate finding)
            F.expr(
                "CASE WHEN t > 0 THEN s_scaled * 1000000 div t END"
            )
            .cast("bigint")
            .alias("share_e6"),
        )
    )


def q_mixture_temperature(spark, sf_dir):
    """T=1/2 mixture weights over the driver documents table — see
    ``mixture_shares_of``."""
    return mixture_shares_of(_t(spark, sf_dir, "documents"))


SQL_MIXTURE_TEMPERATURE = f"""
WITH n AS (
  SELECT source,
         CAST(SUM(COALESCE(len({TOKS_SQL.format(c='text')}), 0)) AS BIGINT)
             AS n_tokens
  FROM documents GROUP BY source
), s AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens * 1000000000000 AS DOUBLE)))
              AS BIGINT) AS s_scaled
  FROM n
), tot AS (SELECT CAST(SUM(s_scaled) AS BIGINT) AS t FROM s)
SELECT source, n_tokens, s_scaled,
       CAST(CASE WHEN tot.t > 0 THEN s_scaled * 1000000 // tot.t END
            AS BIGINT) AS share_e6
FROM s, tot
"""

register(q_mixture_temperature, SQL_MIXTURE_TEMPERATURE)


# ---------------------------------------------------------------------------
# q_sql_group_by_all — the dialect-shared GROUP BY ALL / ORDER BY ALL
# ---------------------------------------------------------------------------

SQL_GROUP_BY_ALL = f"""
SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
       l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {DSUM_SQL.format(col='l_extendedprice')} AS revenue
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


def q_sql_group_by_all(spark, sf_dir):
    """The ONE SQL string runs verbatim on both engines (GROUP BY ALL /
    ORDER BY ALL are dialect-shared with DuckDB): shipping-year rollup
    with the decimal-routed revenue sum.  Registered as a temp view +
    spark.sql, the reference's Athena-style front door."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_GROUP_BY_ALL)


register(q_sql_group_by_all, SQL_GROUP_BY_ALL)
