"""Extension batch IX — integrity audits, retrieval ranking, sequence &
graph analytics, and two Spark-4 surfaces (VARIANT, LATERAL).

Shapes no earlier batch covers:

* ``q_fk_orphans`` — referential-integrity audit across the star: orphan
  foreign-key counts per relationship (planted orphans prove the check
  fires), one left join + conditional agg per edge.
* ``q_bm25_search`` — BM25 document ranking for a fixed query-term set
  over the token index (tf, df, dl, avgdl all from scans — the retrieval
  twin of ``q_tf_idf``).
* ``q_event_pattern`` — MATCH_RECOGNIZE-style sequence matching: per-user
  event strings + regexp occurrence counts (view→purchase funnels as a
  regular language).
* ``q_attribution`` — first-touch / last-touch marketing attribution of
  purchase revenue (ordered-aggregate channel pick + two rollups).
* ``q_benford`` — Benford first-significant-digit audit of order totals
  (fraud-screening data-quality staple).
* ``q_ewma_smooth`` — bounded exponentially-weighted moving average from
  explicit lags (the fixed-window form that stays deterministic and
  shuffle-free beyond one partition).
* ``q_sql_lateral_topn`` — §3.3 ad-hoc SQL: correlated LATERAL top-N per
  group (Spark 4 lateral join), same string on both engines.
* ``q_variant_json`` — Spark 4 VARIANT ingestion: parse_json → typed
  variant_get extraction (the semi-structured fast path; oracle via
  DuckDB JSON operators).
* ``q_binaryfile_source`` — opaque-binary ingestion via the binaryFile
  source (the multimodal on-ramp): filename-keyed join-back, byte length
  + md5 content checks against the originating table.
* ``q_key_skew_profile`` — join-key skew diagnostics (top-key share +
  Gini concentration) — the pre-flight check that decides salting.
* ``q_triangle_count`` — co-occurrence graph triangle census via ordered
  edge self-joins (the canonical distributed graph pattern).

Reference anchor: the reference's analytics layer is SQL-over-star
(etl-glue-nyc-yellow-data-model.py:318-333); integrity/skew audits are
the operational counterpart of its check_table_exists guards
(etl-glue-nyc-yellow-data-model.py:74-86).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators.materialize import materialize
from .paths import scratch
from .registry import register
from .tables import DSUM_SQL, _t, dsum


# --------------------------------------------------------------------------
# Referential-integrity audit
# --------------------------------------------------------------------------

def q_fk_orphans(spark, sf_dir):
    """Orphan-FK audit over four star edges.  A child snapshot with
    planted orphans (every 211th lineitem re-keyed off the orders domain)
    proves the check fires; the other three edges assert the testdata's
    integrity.  Each edge is ONE left join + conditional aggregate —
    parents with PK semantics need no pre-distinct, small parents
    broadcast, and the single big⋈big edge (lineitem⋈orders) is the one
    real shuffle.  At 100 TB each edge is an independent job; nothing
    here collects more than 4 rows."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")

    li_c = li.withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 211 == 0,
               F.col("l_orderkey") + F.lit(50_000_000))
        .otherwise(F.col("l_orderkey")),
    )

    def edge(child, ckey, parent, pkey, name, bcast):
        pk = parent.select(F.col(pkey).alias("__pk"))
        if bcast:
            pk = F.broadcast(pk)
        j = child.select(F.col(ckey).alias("__ck")).join(
            pk, F.col("__ck") == F.col("__pk"), "left"
        )
        return j.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
            F.coalesce(
                F.sum(F.when(F.col("__pk").isNull(), F.col("__ck"))), F.lit(0)
            )
            .cast("long")
            .alias("orphan_key_sum"),
        ).select(F.lit(name).alias("relationship"), "*")

    edges = [
        edge(li_c, "l_orderkey", orders, "o_orderkey", "lineitem->orders", False),
        edge(li, "l_partkey", part, "p_partkey", "lineitem->part", True),
        edge(li, "l_suppkey", supp, "s_suppkey", "lineitem->supplier", True),
        edge(orders, "o_custkey", cust, "c_custkey", "orders->customer", True),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


SQL_FK_ORPHANS = """
WITH li_c AS (
  SELECT CASE WHEN l_orderkey % 211 = 0 THEN l_orderkey + 50000000
              ELSE l_orderkey END AS l_orderkey,
         l_partkey, l_suppkey
  FROM lineitem
)
SELECT 'lineitem->orders' AS relationship, COUNT(*) AS n_child,
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       CAST(COALESCE(SUM(CASE WHEN o.o_orderkey IS NULL THEN c.l_orderkey END),
                     0) AS BIGINT)
         AS orphan_key_sum
FROM li_c c LEFT JOIN orders o ON c.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem->part', COUNT(*),
       CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN p.p_partkey IS NULL THEN l.l_partkey END),
                     0) AS BIGINT)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'lineitem->supplier', COUNT(*),
       CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN s.s_suppkey IS NULL THEN l.l_suppkey END),
                     0) AS BIGINT)
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
UNION ALL
SELECT 'orders->customer', COUNT(*),
       CAST(SUM(CASE WHEN cu.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN cu.c_custkey IS NULL THEN o.o_custkey END),
                     0) AS BIGINT)
FROM orders o LEFT JOIN customer cu ON o.o_custkey = cu.c_custkey
"""

register(q_fk_orphans, SQL_FK_ORPHANS)


# --------------------------------------------------------------------------
# BM25 retrieval ranking
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "fast")
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_parts(d, terms=_BM25_TERMS):
    """BM25 per-doc scores for a fixed term set → ((doc_id, bm25,
    n_terms_hit) unranked, the checkpointed tf base).  Shared by
    q_bm25_search (top-15 carve) and q_hybrid_retrieval /
    q_rag_context_pack (RRF fusion + token-budget packing,
    queries_ext25 — the packer derives its per-doc token counts from
    the SAME tf base instead of re-tokenizing the corpus).  tf/dl come
    from one tokenize pass (two aggregations sharing the same exploded
    scan); df and corpus stats are O(|terms|) / O(1) and broadcast; the
    score sum is decimal-exact per the repo convention (per-term
    contribution rounded to 8dp into DECIMAL before summing so the
    3-way addition has no float-order dependence).  The per-doc join
    graph is tf(term-filtered) ⋈ dl — both keyed by doc_id, one
    shuffle."""
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"),
    ).filter("token != ''")
    # the old plan re-ran scan+tokenize+explode per table (4 corpus
    # passes)
    tf = materialize(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")),
        "term frequencies: dl/avgdl roll up from them, the filter reads twice",
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    avgdl = dl.select(F.avg(F.col("dl").cast("double")).alias("avgdl"))
    qtf = tf.filter(F.col("token").isin(*terms))
    df_ = qtf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        qtf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(avgdl))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B)
        + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / denom
    scores = (
        scored.select(
            "doc_id",
            F.round(contrib, 8).cast("decimal(18,8)").alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("c").cast("double"), 4).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    return scores, tf


def bm25_scores(d, terms=_BM25_TERMS):
    """The (doc_id, bm25, n_terms_hit) table alone — see bm25_parts."""
    return bm25_parts(d, terms)[0]


def q_bm25_search(spark, sf_dir):
    """BM25 top-15 documents for a fixed 3-term query (see bm25_scores
    for the plan notes; the carve is orderBy+limit →
    TakeOrderedAndProject, never a global-sort window)."""
    d = _t(spark, sf_dir, "documents")
    return bm25_scores(d).orderBy(F.desc("bm25"), "doc_id").limit(15)


# The tokenize → tf/dl/stats → term-filter → per-term contribution →
# per-doc score CTE chain, shared by the BM25 oracle and the hybrid /
# context-pack oracles in queries_ext25 (single source of truth for the
# k1/b constants and the decimal-exact rounding; review r4).  `dl` also
# serves as the per-doc token count for downstream packing oracles.
BM25_CTES = f"""toks AS (
  SELECT doc_id, t.token
  FROM documents,
       LATERAL unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
         AS t(token)
  WHERE t.token != ''
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT AVG(CAST(dl AS DOUBLE)) FROM dl) AS avgdl
), qtf AS (
  SELECT * FROM tf
  WHERE token IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
), df AS (
  SELECT token, COUNT(*) AS df FROM qtf GROUP BY 1
), contrib AS (
  -- every constant is CAST to DOUBLE: a bare 2.2 literal is
  -- DECIMAL(2,1) in DuckDB, making tf*2.2 EXACT decimal arithmetic
  -- while Spark computes tf * double(2.2) — ~2-ulp different numerators
  -- feeding the 8dp rounding cut (review r4, probed)
  SELECT q.doc_id,
         CAST(ROUND(
           ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (q.tf * CAST({_BM25_K1 + 1.0} AS DOUBLE))
           / (q.tf + CAST({_BM25_K1} AS DOUBLE)
              * (CAST({round(1.0 - _BM25_B, 10)} AS DOUBLE)
                 + CAST({_BM25_B} AS DOUBLE) * d.dl / s.avgdl)),
         8) AS DECIMAL(18,8)) AS c
  FROM qtf q
  JOIN df ON q.token = df.token
  JOIN dl d ON q.doc_id = d.doc_id
  CROSS JOIN stats s
), bm AS (
  SELECT doc_id,
         ROUND(CAST(SUM(c) AS DOUBLE), 4) AS bm25,
         COUNT(*) AS n_terms_hit
  FROM contrib GROUP BY doc_id
)"""

SQL_BM25_SEARCH = f"""
WITH {BM25_CTES}
SELECT doc_id, bm25, n_terms_hit
FROM bm
ORDER BY bm25 DESC, doc_id
LIMIT 15
"""

register(q_bm25_search, SQL_BM25_SEARCH)


# --------------------------------------------------------------------------
# Sequence pattern matching (MATCH_RECOGNIZE shape)
# --------------------------------------------------------------------------

def q_event_pattern(spark, sf_dir):
    """Per-user event sequences as a regular language: each user's
    events collapse to an ordered initial-letter string (c/e/p/s/v),
    and `v[ces]*p` counts view→purchase conversions with no intervening
    view or purchase.  One shuffle (groupBy user); array_sort on
    (ts, event_id, letter) structs gives a deterministic order without a
    window.  This is the composition route for sequence analytics Spark
    has no MATCH_RECOGNIZE for (SURVEY §2.8 escape-hatch policy)."""
    ev = _t(spark, sf_dir, "events")
    item = F.struct(
        F.col("ts"), F.col("event_id"),
        F.substring("event_type", 1, 1).alias("ch"),
    )
    seqs = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(item)).alias("items"))
        .select(
            "user_id",
            F.size("items").cast("long").alias("n_events"),
            F.array_join(F.transform("items", lambda s: s["ch"]), "")
            .alias("seq"),
        )
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.regexp_count("seq", F.lit("v[ces]*p")).cast("long")
        .alias("n_convert"),
        F.substring("seq", 1, 20).alias("seq_prefix"),
    )


SQL_EVENT_PATTERN = """
WITH seqs AS (
  -- COALESCE: string_agg over an all-NULL group is NULL, but the
  -- engine contract (array_join semantics) is "NULL letters drop;
  -- an all-NULL user owns the EMPTY sequence" (hypothesis-gate find)
  SELECT user_id, COUNT(*) AS n_events,
         COALESCE(string_agg(substr(event_type, 1, 1), ''
                             ORDER BY ts NULLS FIRST, event_id), '')
           AS seq
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       len(regexp_extract_all(seq, 'v[ces]*p')) AS n_convert,
       substr(seq, 1, 20) AS seq_prefix
FROM seqs
"""

register(q_event_pattern, SQL_EVENT_PATTERN)


# --------------------------------------------------------------------------
# First/last-touch attribution
# --------------------------------------------------------------------------

def q_attribution(spark, sf_dir):
    """Marketing attribution: each user's purchase revenue credited to
    the channel (event_type) of their FIRST event and, separately, their
    LAST event.  min_by/max_by on a (ts, event_id) struct picks the
    touch without a window; the two channel rollups then full-outer join
    so every channel shows both models side by side.  Revenue is
    decimal-exact."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr("min_by(event_type, struct(ts, event_id))").alias("first_ch"),
        F.expr("max_by(event_type, struct(ts, event_id))").alias("last_ch"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round("value", 4).cast("decimal(18,4)"),
            ).otherwise(F.lit(0).cast("decimal(18,4)"))
        ).alias("rev"),
    )
    ft = per_user.groupBy(F.col("first_ch").alias("channel")).agg(
        F.count(F.lit(1)).alias("users_first"),
        F.sum("rev").alias("rf"),
    )
    lt = per_user.groupBy(F.col("last_ch").alias("channel")).agg(
        F.count(F.lit(1)).alias("users_last"),
        F.sum("rev").alias("rl"),
    )
    z = F.lit(0).cast("decimal(28,4)")
    return (
        ft.join(lt, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("users_first", F.lit(0)).alias("users_first"),
            F.round(F.coalesce(F.col("rf"), z).cast("double"), 2)
            .alias("rev_first"),
            F.coalesce("users_last", F.lit(0)).alias("users_last"),
            F.round(F.coalesce(F.col("rl"), z).cast("double"), 2)
            .alias("rev_last"),
        )
    )


SQL_ATTRIBUTION = """
WITH per_user AS (
  SELECT user_id,
         first(event_type ORDER BY ts NULLS FIRST, event_id) AS first_ch,
         last(event_type ORDER BY ts NULLS FIRST, event_id) AS last_ch,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value, 4) AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS rev
  FROM events GROUP BY user_id
), ft AS (
  SELECT first_ch AS channel, COUNT(*) AS users_first, SUM(rev) AS rf
  FROM per_user GROUP BY 1
), lt AS (
  SELECT last_ch AS channel, COUNT(*) AS users_last, SUM(rev) AS rl
  FROM per_user GROUP BY 1
)
SELECT COALESCE(ft.channel, lt.channel) AS channel,
       COALESCE(users_first, 0) AS users_first,
       ROUND(CAST(COALESCE(rf, 0) AS DOUBLE), 2) AS rev_first,
       COALESCE(users_last, 0) AS users_last,
       ROUND(CAST(COALESCE(rl, 0) AS DOUBLE), 2) AS rev_last
FROM ft FULL OUTER JOIN lt ON ft.channel = lt.channel
"""

register(q_attribution, SQL_ATTRIBUTION)


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------

def q_benford(spark, sf_dir):
    """Benford's-law screen on order totals: observed first-significant-
    digit shares vs log10(1 + 1/d), absolute deviation per digit.  Pure
    map + one 9-group aggregate + an O(9) window for the total — nothing
    here grows with data volume except the scan.

    The digit comes from the DECIMAL STRING, not floor(x/10^floor(log10 x)):
    libm log10 is not correctly-rounded, so values within an ulp of a
    power of 10 can floor to digit 0 — and Java vs C libm may disagree by
    exactly that ulp (caught by tests/test_properties_ext.py)."""
    o = _t(spark, sf_dir, "orders").filter("o_totalprice >= 1")
    digit = (
        F.substring(
            F.regexp_replace(
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                "[^1-9]",
                "",
            ),
            1,
            1,
        )
        .cast("long")
    )
    grouped = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    share = F.col("n").cast("double") / total.cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return grouped.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("benford_expected"),
        F.round(F.abs(share - expected), 6).alias("abs_dev"),
    )


SQL_BENFORD = """
WITH grouped AS (
  SELECT CAST(SUBSTRING(REGEXP_REPLACE(
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
           '[^1-9]', '', 'g'), 1, 1) AS BIGINT) AS digit,
         COUNT(*) AS n
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 6) AS share,
       ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
         AS benford_expected,
       ROUND(ABS(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                 - LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 6) AS abs_dev
FROM grouped
"""

register(q_benford, SQL_BENFORD, bench=False)


# --------------------------------------------------------------------------
# Bounded EWMA from explicit lags
# --------------------------------------------------------------------------

_EWMA_EXPR = (
    "(v0 * 1.0"
    " + COALESCE(v1, 0.0) * 0.5"
    " + COALESCE(v2, 0.0) * 0.25"
    " + COALESCE(v3, 0.0) * 0.125"
    " + COALESCE(v4, 0.0) * 0.0625)"
    " / (1.0"
    " + CASE WHEN v1 IS NULL THEN 0.0 ELSE 0.5 END"
    " + CASE WHEN v2 IS NULL THEN 0.0 ELSE 0.25 END"
    " + CASE WHEN v3 IS NULL THEN 0.0 ELSE 0.125 END"
    " + CASE WHEN v4 IS NULL THEN 0.0 ELSE 0.0625 END)"
)


def q_ewma_smooth(spark, sf_dir):
    """5-point exponentially-weighted moving average (α=0.5) per user
    from explicit lags — the bounded-window EWMA form.  The recursive
    definition needs unbounded per-key state; truncating the tail at
    (1-α)⁴ keeps it a fixed expression over 4 lags: deterministic,
    whole-stage-codegen, one shuffle (the user window), and identical
    text on both engines (the weight polynomial is shared).  Users are
    sampled %10 to keep the fixture small; at scale the same plan
    handles every user."""
    ev = _t(spark, sf_dir, "events").filter("user_id % 10 = 0")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("v0"),
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
        F.lag("value", 3).over(w).alias("v3"),
        F.lag("value", 4).over(w).alias("v4"),
    )
    return lagged.select(
        "user_id",
        "event_id",
        F.round("v0", 4).alias("val"),
        F.round(F.expr(_EWMA_EXPR), 4).alias("ewma"),
    )


SQL_EWMA_SMOOTH = f"""
WITH lagged AS (
  SELECT user_id, event_id, value AS v0,
         LAG(value, 1) OVER w AS v1,
         LAG(value, 2) OVER w AS v2,
         LAG(value, 3) OVER w AS v3,
         LAG(value, 4) OVER w AS v4
  FROM events WHERE user_id % 10 = 0
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
)
SELECT user_id, event_id,
       ROUND(v0, 4) AS val,
       ROUND({_EWMA_EXPR}, 4) AS ewma
FROM lagged
"""

register(q_ewma_smooth, SQL_EWMA_SMOOTH, bench=False)


# --------------------------------------------------------------------------
# §3.3 ad-hoc SQL — correlated LATERAL top-N
# --------------------------------------------------------------------------

LATERAL_TOPN_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 3
) t
"""


def q_sql_lateral_topn(spark, sf_dir):
    """§3.3 ad-hoc SQL: top-3 customers by balance per nation via a
    correlated LATERAL subquery (Spark 4 lateral join).  Catalyst
    decorrelates this to a ranked window under the hood — the same plan
    q_window_rank hand-writes — so declaring it in SQL costs nothing at
    scale.  Oracle is the same string."""
    from .sql import register_views, run_sql

    register_views(spark, sf_dir, tables=("nation", "customer"))
    return run_sql(spark, LATERAL_TOPN_SQL)


register(q_sql_lateral_topn, LATERAL_TOPN_SQL, bench=False)


# --------------------------------------------------------------------------
# Spark-4 VARIANT semi-structured extraction
# --------------------------------------------------------------------------

def q_variant_json(spark, sf_dir):
    """Semi-structured fast path: events.props parsed ONCE into a
    VARIANT column (Spark 4 binary JSON — parse cost paid at ingest, not
    per field access), then typed variant_get extraction feeding a
    grouped rollup.  The DuckDB oracle reads the same JSON with ->>
    (VARIANT is engine-internal; the extracted values are the
    contract)."""
    ev = _t(spark, sf_dir, "events")
    k = F.expr("CAST(variant_get(parse_json(props), '$.k', 'int') AS INT)")
    return (
        ev.select(k.alias("k"), "value", "event_type")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.round("value", 4)).alias("sum_value"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


SQL_VARIANT_JSON = f"""
SELECT CAST(props->>'$.k' AS INTEGER) AS k,
       COUNT(*) AS n_events,
       {DSUM_SQL.format(col='ROUND(value, 4)')} AS sum_value,
       COUNT(DISTINCT event_type) AS n_types
FROM events
GROUP BY 1
"""

register(q_variant_json, SQL_VARIANT_JSON, bench=False)


# --------------------------------------------------------------------------
# binaryFile source (multimodal on-ramp)
# --------------------------------------------------------------------------

def q_binaryfile_source(spark, sf_dir):
    """Opaque-binary ingestion: every 50th document's text is written to
    a `<doc_id>.bin` file (fixture prep — the real pipeline's files
    already exist), read back through the binaryFile source, and
    verified by byte length + md5 against the originating table via a
    filename-extracted key.  The fixture writer runs executor-side via
    foreachPartition (never a driver collect+loop: at 100× the collect
    WOULD be the job); in local mode the partitions write to the same
    tempdir, on a cluster the same code targets shared storage.  This is
    the exact on-ramp q_multimodal_features' decode stage consumes;
    binaryFile gives distributed file listing + content loading with no
    Python in the read path."""
    import os

    d = _t(spark, sf_dir, "documents")
    out = scratch("sg_binsrc_")

    def _write_partition(rows):  # closure: cloudpickled by value
        for r in rows:
            with open(os.path.join(out, f"{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))

    d.filter("doc_id % 50 = 0").select("doc_id", "text").foreachPartition(
        _write_partition
    )

    files = spark.read.format("binaryFile").load(out)
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


SQL_BINARYFILE_SOURCE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id % 50 = 0
"""

register(q_binaryfile_source, SQL_BINARYFILE_SOURCE, bench=False)


# --------------------------------------------------------------------------
# Join-key skew profile
# --------------------------------------------------------------------------

def q_key_skew_profile(spark, sf_dir):
    """Pre-join skew diagnostics for two join keys: per-key counts
    reduce to key cardinality, max/top-share, and the Gini concentration
    G = 2·Σ(i·cᵢ)/(n·Σc) − (n+1)/n over counts ranked ascending.  The
    per-key aggregate is the only data-sized shuffle; the rank window
    then sorts |keys| rows (the scale path for billions of keys is the
    two-phase operators/indexing.py global index — same contract).
    This is the measurement that decides between plain, broadcast, and
    salted joins (q_salted_join is the remediation twin)."""

    def profile(df, key, name):
        cnts = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.orderBy("cnt", "k")
        ranked = cnts.select(
            "cnt", F.row_number().over(w).cast("long").alias("i")
        )
        n = F.count(F.lit(1))
        tot = F.sum("cnt")
        # Σ(i·cᵢ) accumulates in DECIMAL(38,0): the BIGINT sum is
        # ~n_keys²·avg_cnt/2 and overflows int64 around TPC-H sf≈4000
        # under ANSI, where the DuckDB oracle silently widens to HUGEINT
        # (review r4) — decimal matches the oracle's exact-sum-then-cast
        gini = (
            F.lit(2.0)
            * F.sum((F.col("i") * F.col("cnt")).cast("decimal(38,0)")).cast("double")
            / (n.cast("double") * tot.cast("double"))
            - (n.cast("double") + F.lit(1.0)) / n.cast("double")
        )
        return ranked.agg(
            n.alias("n_keys"),
            tot.cast("long").alias("n_rows"),
            F.max("cnt").cast("long").alias("max_cnt"),
            F.round(
                F.max("cnt").cast("double") / tot.cast("double"), 6
            ).alias("top1_share"),
            F.round(gini, 6).alias("gini"),
        ).select(F.lit(name).alias("key_col"), "*")

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return profile(li, "l_partkey", "lineitem.l_partkey").unionByName(
        profile(orders, "o_custkey", "orders.o_custkey")
    )


SQL_KEY_SKEW_PROFILE = """
WITH c1 AS (
  SELECT l_partkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1
), r1 AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, k) AS i FROM c1
), c2 AS (
  SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1
), r2 AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, k) AS i FROM c2
)
SELECT 'lineitem.l_partkey' AS key_col, COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows, MAX(cnt) AS max_cnt,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
         AS top1_share,
       ROUND(2.0 * CAST(SUM(i * cnt) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE))
             - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE),
             6) AS gini
FROM r1
UNION ALL
SELECT 'orders.o_custkey', COUNT(*), CAST(SUM(cnt) AS BIGINT), MAX(cnt),
       ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6),
       ROUND(2.0 * CAST(SUM(i * cnt) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE))
             - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE),
             6)
FROM r2
"""

register(q_key_skew_profile, SQL_KEY_SKEW_PROFILE)


# --------------------------------------------------------------------------
# Triangle census on the co-occurrence graph
# --------------------------------------------------------------------------

def q_triangle_count(spark, sf_dir):
    """Triangle count over the part co-occurrence graph (parts sharing
    an order, orders sampled %20): ordered edges u<v from a within-order
    self-join, then the canonical two-step closure e(u,v)⋈e(v,w)⋈e(u,w)
    with u<v<w so each triangle counts exactly once.  The ordering
    constraint is what keeps the distributed join tree skew-bounded
    (every wedge is generated once, at its smallest vertex).

    The edge table is materialized: it is two ints per edge while its
    derivation is a scan + distinct + within-order self-join + distinct,
    and SIX consumers re-ran that subtree (nodes ×2, e1/e2/e3, the edge
    count) — runtime exchange reuse never fires across them."""
    li = _t(spark, sf_dir, "lineitem").filter("l_orderkey % 20 = 0")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.alias("a")
    b = op.alias("b")
    edges = materialize(
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct(),
        "part co-occurrence edges: six consumers",
    )
    nodes = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
    )
    return (
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


SQL_TRIANGLE_COUNT = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey % 20 = 0
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), nodes AS (
  SELECT DISTINCT x FROM (
    SELECT u AS x FROM edges UNION ALL SELECT v FROM edges
  )
)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT COUNT(*)
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v) AS n_triangles
"""

register(q_triangle_count, SQL_TRIANGLE_COUNT)


# --------------------------------------------------------------------------
# Multi-source BFS hop distance
# --------------------------------------------------------------------------

def q_graph_bfs(spark, sf_dir):
    """Multi-source BFS over the part co-occurrence graph: minimum hop
    distance (≤3) from the seed set (partkeys ≡ 0 mod 500) to every
    reachable node, reported as a hop histogram + node-id checksum.

    Iterative frontier expansion — each round is ONE distinct-join
    (frontier ⋈ edges, anti-join against settled nodes), the same
    broadcast-loop discipline as q_pagerank; rounds are bounded (3), and
    the frontier is materialized so lineage stays flat.  Oracle:
    DuckDB recursive CTE with UNION dedup + MIN(hop).
    """
    li = _t(spark, sf_dir, "lineitem").filter("l_orderkey % 20 = 0")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    half = materialize(
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct(),
        "part co-occurrence edges: nodes and the three BFS rounds",
    )
    edges = half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = edges.select("u").distinct()
    seeds = nodes.filter("u % 500 = 0").select(F.col("u").alias("node"))

    dist = materialize(seeds.withColumn("hop", F.lit(0)), "BFS seeds")
    frontier = dist.select("node")
    for h in (1, 2, 3):
        nxt = materialize(
            frontier.join(edges, frontier.node == edges.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h)),
            f"BFS frontier, hop {h}",
        )
        if not nxt.take(1):
            break
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist.groupBy("hop").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("node_checksum"),
    )


SQL_GRAPH_BFS = """
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 20 = 0
), half AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), edges AS (
  SELECT u, v FROM half UNION ALL SELECT v, u FROM half
), bfs AS (
  SELECT u AS node, 0 AS hop FROM (SELECT DISTINCT u FROM edges)
  WHERE u % 500 = 0
  UNION
  SELECT e.v, b.hop + 1 FROM bfs b JOIN edges e ON e.u = b.node
  WHERE b.hop < 3
), best AS (
  SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node
)
SELECT hop, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS node_checksum
FROM best GROUP BY hop
"""

register(q_graph_bfs, SQL_GRAPH_BFS)
