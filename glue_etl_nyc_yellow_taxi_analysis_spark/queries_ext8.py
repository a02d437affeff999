"""Extension batch VIII — business analytics & change-management shapes.

Six shapes the earlier batches don't cover, each a staple of the
warehouse layer the reference feeds (Athena/Looker over the star,
SURVEY §3.3) or of a training-data curation pipeline:

* ``q_pareto_share`` — 80/20 concentration analysis: how many customers
  carry 80 % of revenue, per market segment (cumulative-share window
  over a PRE-AGGREGATED input, so the window is |customers|-sized, not
  |lineitem|-sized).
* ``q_rfm_segmentation`` — Recency/Frequency/Monetary quintile scoring
  (the canonical customer-segmentation derivation).
* ``q_price_volume_bridge`` — YoY revenue decomposition into price
  effect + volume effect per brand, ONE conditional-aggregation pass
  (no per-year self-join).
* ``q_nest_orders`` — document assembly: order → sorted array of line
  structs, rendered canonically (the nested-JSON export shape LLM
  training corpora are built from).
* ``q_snapshot_diff`` — CDC snapshot diff (added/removed/changed counts
  + key checksums) via a single full-outer join on row fingerprints.
* ``q_inverted_index`` — token → posting-list search index build
  (sorted doc-id lists + document frequency).

Reference anchor: the reference's analytics layer is SQL-over-star
(etl-glue-nyc-yellow-data-model.py:318-333 writes the fact the Athena
queries consume); these are the query shapes that layer exists to serve.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import register
from .tables import DSUM_SQL, _t, dsum


# --------------------------------------------------------------------------
# Pareto 80/20 concentration
# --------------------------------------------------------------------------

def q_pareto_share(spark, sf_dir):
    """Per market segment: total customers, customers needed to cover
    80 % of segment revenue, and the revenue share those top customers
    actually hold.

    Scale shape: the heavy input (orders) is aggregated to one row per
    customer BEFORE the cumulative window, so the window sorts
    |customers| rows per segment, not |orders|; ties broken by custkey
    for a deterministic frontier.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    )
    w = (
        F.expr(
            "sum(rev) OVER (PARTITION BY c_mktsegment"
            " ORDER BY rev DESC, c_custkey"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        )
    )
    tot = F.expr("sum(rev) OVER (PARTITION BY c_mktsegment)")
    flagged = per_cust.select(
        "c_mktsegment",
        "rev",
        F.coalesce(w, F.lit(0).cast("decimal(28,4)")).alias("cum_before"),
        tot.alias("seg_total"),
    ).withColumn(
        # multiplied-out EXACT decimal compare: cum*10 < total*8 — the
        # float form (seg_total * double 0.8) classifies exact-80%%
        # boundary customers differently than the oracle's exact decimal
        # 0.8 literal (review r4, probed)
        "is_top80",
        F.col("cum_before") * 10 < F.col("seg_total") * 8,
    )
    return flagged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("is_top80").cast("int")).alias("n_top80"),
        F.round(
            F.sum(F.when(F.col("is_top80"), F.col("rev")).otherwise(0))
            .cast("double")
            / F.max("seg_total").cast("double"),
            6,
        ).alias("top80_share"),
    )


SQL_PARETO_SHARE = """
WITH per_cust AS (
  SELECT c.c_mktsegment, c.c_custkey,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), flagged AS (
  SELECT c_mktsegment, rev,
         COALESCE(SUM(rev) OVER (PARTITION BY c_mktsegment
             ORDER BY rev DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         SUM(rev) OVER (PARTITION BY c_mktsegment) AS seg_total
  FROM per_cust
)
SELECT c_mktsegment,
       COUNT(*) AS n_cust,
       CAST(SUM(CASE WHEN cum_before * 10 < seg_total * 8 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_top80,
       ROUND(CAST(SUM(CASE WHEN cum_before * 10 < seg_total * 8 THEN rev ELSE 0 END)
                  AS DOUBLE) / CAST(MAX(seg_total) AS DOUBLE), 6) AS top80_share
FROM flagged
GROUP BY c_mktsegment
"""

register(q_pareto_share, SQL_PARETO_SHARE)


# --------------------------------------------------------------------------
# RFM segmentation
# --------------------------------------------------------------------------

def q_rfm_segmentation(spark, sf_dir):
    """RFM quintile scoring: per customer, recency (days since last
    order vs corpus max), frequency (order count), monetary (decimal
    revenue) → NTILE(5) each (custkey tiebreak for determinism) →
    segment cell counts.

    Scale note: the NTILE windows rank the PRE-AGGREGATED per-customer
    table (|customers| rows).  At 100 TB the same plan holds because the
    reduction happens before the sort; for |customers| beyond one
    executor's sort budget the two-phase global_index operator
    (operators/indexing.py) is the drop-in replacement for each rank.
    """
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_od"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("monetary"),
    )
    ref_date = per_cust.select(F.max("last_od").alias("mx"))
    scored = per_cust.crossJoin(F.broadcast(ref_date)).select(
        "o_custkey",
        F.datediff(F.col("mx"), F.col("last_od")).alias("recency"),
        "freq",
        "monetary",
    )
    r = F.expr("ntile(5) OVER (ORDER BY recency, o_custkey)")
    fq = F.expr("ntile(5) OVER (ORDER BY freq DESC, o_custkey)")
    m = F.expr("ntile(5) OVER (ORDER BY monetary DESC, o_custkey)")
    rfm = scored.select(
        "o_custkey",
        "monetary",
        r.alias("r_score"),
        fq.alias("f_score"),
        m.alias("m_score"),
    )
    # cell monetary total stays in the exact-decimal domain (an AVG over
    # doubles can land on a half-cent and round differently per engine)
    return rfm.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("monetary"), 2).cast("double").alias("sum_monetary"),
    )


SQL_RFM_SEGMENTATION = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_od,
         COUNT(*) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary
  FROM orders GROUP BY 1
), scored AS (
  SELECT o_custkey,
         datediff('day', last_od, (SELECT MAX(last_od) FROM per_cust))
           AS recency,
         freq, monetary
  FROM per_cust
), rfm AS (
  SELECT o_custkey, monetary,
         NTILE(5) OVER (ORDER BY recency, o_custkey) AS r_score,
         NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM scored
)
SELECT r_score, f_score, m_score, COUNT(*) AS n,
       CAST(ROUND(SUM(monetary), 2) AS DOUBLE) AS sum_monetary
FROM rfm GROUP BY 1, 2, 3
"""

register(q_rfm_segmentation, SQL_RFM_SEGMENTATION)


# --------------------------------------------------------------------------
# Price/volume bridge (YoY revenue decomposition)
# --------------------------------------------------------------------------

def q_price_volume_bridge(spark, sf_dir):
    """Per-brand 1996→1997 revenue bridge: delta = price effect +
    volume effect, where price effect = (p2 − p1)·q2 and volume effect
    = (q2 − q1)·p1 with p = rev/qty.  ONE scan + ONE shuffle: both
    years come out of conditional aggregates (no per-year self-join),
    part is broadcast.  The identity price+volume = rev2 − rev1 is the
    built-in correctness check (pinned in tests)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    yr = F.year("l_shipdate")
    rev = F.col("l_extendedprice").cast("decimal(18,4)")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    agg = (
        li.filter(yr.isin(1996, 1997))
        .join(F.broadcast(p.select("p_partkey", "p_brand")),
              li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(yr == 1996, rev).otherwise(0)).alias("rev1"),
            F.sum(F.when(yr == 1997, rev).otherwise(0)).alias("rev2"),
            F.sum(F.when(yr == 1996, qty).otherwise(0)).alias("qty1"),
            F.sum(F.when(yr == 1997, qty).otherwise(0)).alias("qty2"),
        )
        .filter((F.col("qty1") > 0) & (F.col("qty2") > 0))
    )
    p1 = F.col("rev1").cast("double") / F.col("qty1").cast("double")
    p2 = F.col("rev2").cast("double") / F.col("qty2").cast("double")
    q1d = F.col("qty1").cast("double")
    q2d = F.col("qty2").cast("double")
    return agg.select(
        "p_brand",
        F.col("rev1").cast("double").alias("rev_1996"),
        F.col("rev2").cast("double").alias("rev_1997"),
        F.round((p2 - p1) * q2d, 2).alias("price_effect"),
        F.round((q2d - q1d) * p1, 2).alias("volume_effect"),
    )


SQL_PRICE_VOLUME_BRIDGE = """
WITH agg AS (
  SELECT p.p_brand,
         SUM(CASE WHEN year(l.l_shipdate) = 1996
             THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) ELSE 0 END) AS rev1,
         SUM(CASE WHEN year(l.l_shipdate) = 1997
             THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) ELSE 0 END) AS rev2,
         SUM(CASE WHEN year(l.l_shipdate) = 1996
             THEN CAST(l.l_quantity AS DECIMAL(18,4)) ELSE 0 END) AS qty1,
         SUM(CASE WHEN year(l.l_shipdate) = 1997
             THEN CAST(l.l_quantity AS DECIMAL(18,4)) ELSE 0 END) AS qty2
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1996, 1997)
  GROUP BY p.p_brand
)
SELECT p_brand,
       CAST(rev1 AS DOUBLE) AS rev_1996,
       CAST(rev2 AS DOUBLE) AS rev_1997,
       ROUND((CAST(rev2 AS DOUBLE) / CAST(qty2 AS DOUBLE)
              - CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE))
             * CAST(qty2 AS DOUBLE), 2) AS price_effect,
       ROUND((CAST(qty2 AS DOUBLE) - CAST(qty1 AS DOUBLE))
             * (CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE)), 2)
         AS volume_effect
FROM agg
WHERE qty1 > 0 AND qty2 > 0
"""

register(q_price_volume_bridge, SQL_PRICE_VOLUME_BRIDGE)


# --------------------------------------------------------------------------
# Document assembly (nest) with canonical rendering
# --------------------------------------------------------------------------

def q_nest_orders(spark, sf_dir):
    """Order documents: each order with its lines collected into a
    SORTED array of structs, surfaced as a canonical signature string
    (ln:partkey:qty joined by ','), plus item count and decimal total.
    collect_list is the nest step of the nested-JSON export; the
    canonical rendering is what makes the nesting oracle-checkable.
    Sort key (linenumber, partkey, qty) disambiguates the duplicate
    l_linenumber values present in the testdata."""
    li = _t(spark, sf_dir, "lineitem").filter("l_orderkey % 50 = 0")
    item = F.struct(
        F.col("l_linenumber").alias("ln"),
        F.col("l_partkey").alias("pk"),
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
    )
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(item)).alias("items"),
        dsum("l_quantity").alias("total_qty"),
    )
    # NULL-propagating concat: an item with any NULL field renders NULL
    # and array_join drops it — exactly what the oracle's || + STRING_AGG
    # do; concat_ws would keep a silently truncated 'ln:qty' element the
    # oracle omits (review r4)
    sig = F.array_join(
        F.transform(
            "items",
            lambda s: F.concat(
                s["ln"].cast("string"),
                F.lit(":"),
                s["pk"].cast("string"),
                F.lit(":"),
                s["qty"].cast("string"),
            ),
        ),
        ",",
    )
    return nested.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        sig.alias("items_sig"),
        "total_qty",
    )


SQL_NEST_ORDERS = f"""
SELECT l_orderkey,
       COUNT(*) AS n_items,
       STRING_AGG(
         l_linenumber || ':' || l_partkey || ':'
           || CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR),
         ',' ORDER BY l_linenumber, l_partkey, CAST(l_quantity AS DECIMAL(12,2))
       ) AS items_sig,
       {DSUM_SQL.format(col='l_quantity')} AS total_qty
FROM lineitem
WHERE l_orderkey % 50 = 0
GROUP BY l_orderkey
"""

register(q_nest_orders, SQL_NEST_ORDERS)


# --------------------------------------------------------------------------
# CDC snapshot diff
# --------------------------------------------------------------------------

def _order_fp(prefix: str):
    return F.md5(
        F.concat_ws(
            "|",
            F.col(f"{prefix}o_orderstatus"),
            F.col(f"{prefix}o_orderpriority"),
            F.col(f"{prefix}o_totalprice").cast("decimal(18,2)").cast("string"),
        )
    )


def q_snapshot_diff(spark, sf_dir):
    """CDC diff of two table snapshots via ONE full-outer join on the
    key, comparing row fingerprints: snapshot B is derived from orders
    deterministically (keys %89==0 deleted, %97==0 repriced, clones of
    %101==0 re-keyed as inserts).  Output: per change type, row count +
    key checksum — the merge-planning summary an incremental loader
    needs before applying a batch."""
    a = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    kept = a.filter("o_orderkey % 89 != 0").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    )
    inserts = a.filter("o_orderkey % 101 = 0").withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    b = kept.unionByName(inserts)

    fa = a.select("o_orderkey", _order_fp("").alias("fp_a"))
    fb = b.select("o_orderkey", _order_fp("").alias("fp_b"))
    j = fa.join(fb, "o_orderkey", "full_outer")
    typed = j.select(
        "o_orderkey",
        F.when(F.col("fp_a").isNull(), "added")
        .when(F.col("fp_b").isNull(), "removed")
        .when(F.col("fp_a") != F.col("fp_b"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return typed.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
    )


SQL_SNAPSHOT_DIFF = """
WITH a AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
  FROM orders
), b AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM a WHERE o_orderkey % 89 != 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_orderpriority, o_totalprice
  FROM a WHERE o_orderkey % 101 = 0
), fa AS (
  SELECT o_orderkey, md5(concat_ws('|', o_orderstatus, o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))) AS fp_a
  FROM a
), fb AS (
  SELECT o_orderkey, md5(concat_ws('|', o_orderstatus, o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))) AS fp_b
  FROM b
), typed AS (
  SELECT COALESCE(fa.o_orderkey, fb.o_orderkey) AS o_orderkey,
         CASE WHEN fa.fp_a IS NULL THEN 'added'
              WHEN fb.fp_b IS NULL THEN 'removed'
              WHEN fa.fp_a != fb.fp_b THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM fa FULL OUTER JOIN fb ON fa.o_orderkey = fb.o_orderkey
)
SELECT change_type, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM typed GROUP BY change_type
"""

register(q_snapshot_diff, SQL_SNAPSHOT_DIFF)


# --------------------------------------------------------------------------
# Inverted index build
# --------------------------------------------------------------------------

def q_inverted_index(spark, sf_dir):
    """Search-index build over documents: token → document frequency +
    the posting list's first 10 sorted doc ids (rendered).  Top 20
    tokens by (df DESC, token) — the explode → distinct → collect_set
    pipeline every retrieval corpus build runs."""
    d = _t(spark, sf_dir, "documents")
    # no pre-distinct: collect_set dedupes per group, and the map-side
    # partial aggregate already collapses duplicate (token, doc_id)
    # pairs before the single token shuffle
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(F.lower("text"), "[^a-z0-9]+")
        ).alias("token"),
    ).filter("length(token) >= 3")
    return (
        toks.groupBy("token")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
        .select(
            "token",
            F.size("postings").alias("df"),
            F.array_join(
                F.transform(
                    F.slice("postings", 1, 10), lambda x: x.cast("string")
                ),
                ",",
            ).alias("first_postings"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(20)
    )


SQL_INVERTED_INDEX = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.token
  FROM documents,
       LATERAL unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
         AS t(token)
  WHERE length(t.token) >= 3
), grouped AS (
  SELECT token,
         COUNT(*) AS df,
         array_to_string(list(doc_id ORDER BY doc_id)[1:10], ',')
           AS first_postings
  FROM toks GROUP BY token
)
SELECT token, df, first_postings
FROM grouped
ORDER BY df DESC, token
LIMIT 20
"""

register(q_inverted_index, SQL_INVERTED_INDEX)
