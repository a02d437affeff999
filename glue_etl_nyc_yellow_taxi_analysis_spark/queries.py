"""Declared query inventory (SURVEY.md §2.9) — the driver correctness gate.

Each query is one ``register(spark_fn, oracle_sql)`` call (registry.py):
``spark_fn(spark, sf_dir)`` returns a DataFrame; the required oracle is ANSI
SQL DuckDB runs on the same parquet (views pre-registered).  Column names
are aliased identically on both sides (the driver sorts columns by name
before value-hashing).  This module registers the core queries, then
imports the ``queries_ext*`` modules, which register the rest;
``QUERIES`` and ``ORACLE`` are re-exported from the registry.

Cross-engine determinism rules used throughout:
- sums of double columns go through DECIMAL(18,4) so partial-aggregation
  order cannot perturb the result (double addition is non-associative;
  decimal is exact).  Output is CAST(ROUND(..., 2) AS DOUBLE) on both sides.
- ratios of integers / single divisions are computed once and rounded —
  deterministic in both engines.
- non-deterministic or engine-specific ops (uuid, xxhash64 banding,
  streaming, writes) get an oracle on a deterministic contract of their
  output (counts, bounds verdicts, a replayable hash family), or are not
  registered at all (see the notes in the registration block below).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import peak_band_id
from .operators import dedup, multimodal, sessionize, similarity, text
from .operators.joins import anti_join, broadcast_dim_join, semi_join
from .operators.transforms import dedup_exact
from .paths import scratch
from .plans import dims, star, warehouse
from .registry import ORACLE, QUERIES, register  # noqa: F401  (ORACLE/QUERIES re-exported)
from .sources.writers import write_partitioned_parquet
from .sql import PRICING_SUMMARY_SQL, SHIPPING_PRIORITY_SQL
from .tables import (
    _COSINE_SQL,
    DSUM_SQL,
    NORM_SQL,
    SQL_LANG_ID,
    SQL_SIMILARITY_TOPK,
    TOKS_SQL,
    _hits_sql,
    _t,
    _taxi_fixture,
    dsum,
)


# --------------------------------------------------------------------------
# Scan / project / filter / cast family (S1, P1-P7, F1-F5, X1-X12)
# --------------------------------------------------------------------------

def q_scan_project_filter(spark, sf_dir):
    """S1+P4+F1/F2: parquet scan with pruned columns, chained range filter
    + SQL-string predicate (both pushed into the scan by Catalyst)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .filter((F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        .filter("l_extendedprice > 20000")
    )


SQL_SCAN_PROJECT_FILTER = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
WHERE l_quantity >= 10 AND l_quantity <= 20 AND l_extendedprice > 20000
"""


def q_rename_cast(spark, sf_dir):
    """P1+P2+X6: bulk rename + cast contract (int / decimal / date-string),
    mirroring the taxi fact's rename/cast maps (DM:234-269)."""
    o = _t(spark, sf_dir, "orders")
    o = o.withColumnsRenamed(
        {
            "o_orderkey": "order_id",
            "o_custkey": "customer_id",
            "o_totalprice": "total_price",
            "o_orderdate": "order_date",
            "o_orderstatus": "order_status",
        }
    )
    o = o.withColumns(
        {
            # IntegerType is the REFERENCE's cast contract (DM cast map).
            # Capacity note: TPC-H orderkeys pass 2^31 around SF≈358, where
            # this cast hard-fails under ANSI on both engines — at that
            # scale widen the contract to LongType (a one-line change);
            # the reference's own NYC-taxi keys never approach int32.
            "order_id": F.col("order_id").cast(T.IntegerType()),
            "customer_id": F.col("customer_id").cast(T.IntegerType()),
            # the decimal(12,2) cast is the reference's cast contract; the
            # final .cast("double") is the canonical output lane every other
            # money column in this inventory uses (decimal representations
            # differ between engines at the comparison boundary, the rounded
            # double does not — same rationale as dsum())
            "total_price": F.col("total_price").cast(T.DecimalType(12, 2)).cast("double"),
            "order_date": F.date_format("order_date", "yyyy-MM-dd"),
        }
    )
    return o.select("order_id", "customer_id", "order_status", "total_price", "order_date")


SQL_RENAME_CAST = """
SELECT CAST(o_orderkey AS INTEGER) AS order_id,
       CAST(o_custkey AS INTEGER) AS customer_id,
       o_orderstatus AS order_status,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders
"""


def q_derived_columns(spark, sf_dir):
    """P3+X1+X8-X10: surrogate date/time keys + floor-division time math on
    event timestamps (the taxi surrogate-key and duration derivations)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyyMMdd").alias("date_id"),
        F.date_format("ts", "HHmmss").alias("time_id"),
        # timestampdiff on NTZ with an NTZ midnight (cast through DATE) is
        # session-timezone-proof; unix_timestamp would re-interpret the
        # wall clock, and date_trunc would coerce NTZ→LTZ (DST gaps)
        F.floor(
            F.expr(
                "timestampdiff(SECOND,"
                " CAST(CAST(ts AS DATE) AS TIMESTAMP_NTZ), ts)"
            )
            / 60
        ).alias("minutes_since_midnight"),
    )


SQL_DERIVED_COLUMNS = """
SELECT event_id,
       strftime(ts, '%Y%m%d') AS date_id,
       strftime(ts, '%H%M%S') AS time_id,
       CAST(floor(date_diff('second', date_trunc('day', ts), ts) / 60.0) AS BIGINT)
           AS minutes_since_midnight
FROM events
"""


def q_case_recode(spark, sf_dir):
    """X2-X5: when/otherwise CASE, isin, between, coalesce recodes."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("pending")
        .alias("status_desc"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "urgent")
        .otherwise("normal")
        .alias("priority_band"),
        F.when(F.col("o_totalprice").between(0, 50000), "small")
        .when(F.col("o_totalprice").between(50000, 150000), "medium")
        .otherwise("large")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("X")), F.lit("unknown")).alias(
            "status_raw"
        ),
    )


SQL_CASE_RECODE = """
SELECT o_orderkey,
       CASE WHEN o_orderstatus = 'F' THEN 'finished'
            WHEN o_orderstatus = 'O' THEN 'open'
            ELSE 'pending' END AS status_desc,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'urgent'
            ELSE 'normal' END AS priority_band,
       CASE WHEN o_totalprice BETWEEN 0 AND 50000 THEN 'small'
            WHEN o_totalprice BETWEEN 50000 AND 150000 THEN 'medium'
            ELSE 'large' END AS price_band,
       COALESCE(NULLIF(o_orderstatus, 'X'), 'unknown') AS status_raw
FROM orders
"""


# --------------------------------------------------------------------------
# Dedup / distinct family (D1, D2, P6)
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """D1: dropDuplicates → hash aggregate (shuffle on the dedup key)."""
    ev = _t(spark, sf_dir, "events")
    return dedup_exact(ev, ["user_id", "event_type"]).select("user_id", "event_type")


SQL_DEDUP_EXACT = "SELECT DISTINCT user_id, event_type FROM events"


def q_distinct_project(spark, sf_dir):
    """D2+P6+J1-as-function: the reference's distinct-hours → peak-band
    derivation (DM:305-315), hour from event time."""
    ev = _t(spark, sf_dir, "events")
    hours = ev.select(F.date_format("ts", "HH").alias("hour")).distinct()
    return hours.select("hour", peak_band_id(F.col("hour")).alias("trip_peak_band_id"))


SQL_DISTINCT_PROJECT = """
WITH h AS (SELECT DISTINCT strftime(ts, '%H') AS hour FROM events)
SELECT hour,
       CASE WHEN CAST(hour AS INTEGER) BETWEEN 0 AND 5
                 OR CAST(hour AS INTEGER) BETWEEN 20 AND 23 THEN '101'
            WHEN CAST(hour AS INTEGER) BETWEEN 6 AND 9
                 OR CAST(hour AS INTEGER) BETWEEN 16 AND 19 THEN '102'
            ELSE '103' END AS trip_peak_band_id
FROM h
"""


# --------------------------------------------------------------------------
# Generator dimensions (S4, X11)
# --------------------------------------------------------------------------

def q_generator_dim_date(spark, sf_dir):
    """S4+X1: the 10 959-row calendar dimension (DM:163-182)."""
    return dims.dim_date(spark)


SQL_GENERATOR_DIM_DATE = """
WITH d AS (SELECT CAST(unnest(generate_series(DATE '2000-01-01', DATE '2030-01-01',
                                              INTERVAL 1 DAY)) AS DATE) AS d)
SELECT strftime(d, '%Y%m%d') AS date_id,
       CAST(day(d) AS VARCHAR) AS date,
       CAST(month(d) AS VARCHAR) AS month,
       CAST(year(d) AS VARCHAR) AS year,
       strftime(d, '%a') AS day_short,
       strftime(d, '%A') AS day_long,
       strftime(d, '%b') AS month_short,
       strftime(d, '%B') AS month_long,
       CASE WHEN strftime(d, '%a') IN ('Sat', 'Sun') THEN 'Yes' ELSE 'No' END AS is_weekend
FROM d
"""


def q_generator_dim_time(spark, sf_dir):
    """S4+X11: the 86 400-row seconds-of-day dimension (DM:201-215)."""
    return dims.dim_time(spark)


SQL_GENERATOR_DIM_TIME = """
SELECT strftime(t, '%H%M%S') AS time_id,
       CAST(hour(t) AS VARCHAR) AS hour,
       CAST(minute(t) AS VARCHAR) AS minute,
       CAST(second(t) AS VARCHAR) AS second
FROM (SELECT unnest(generate_series(TIMESTAMP '2000-01-01 00:00:00',
                                    TIMESTAMP '2000-01-01 23:59:59',
                                    INTERVAL 1 SECOND)) AS t)
"""


# --------------------------------------------------------------------------
# Join family (J1 + star completion)
# --------------------------------------------------------------------------

def q_join_broadcast_dim(spark, sf_dir):
    """J1: fact ↔ broadcast dimension chain (orders → customer → nation →
    region), row-level output — exercises the join itself, not the agg."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    n = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    r = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    joined = broadcast_dim_join(o, c, "o_custkey")
    joined = broadcast_dim_join(joined, n, "c_nationkey")
    joined = broadcast_dim_join(joined, r, "n_regionkey")
    return joined.filter(F.col("r_name") == "ASIA").select(
        "o_orderkey", "c_name", "n_name"
    )


SQL_JOIN_BROADCAST_DIM = """
SELECT o.o_orderkey, c.c_name, n.n_name
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
"""


def q_join_semi(spark, sf_dir):
    """Left-semi: orders having a high-quantity lineitem (EXISTS shape)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    return semi_join(o, li, "o_orderkey").select("o_orderkey", "o_totalprice")


SQL_JOIN_SEMI = """
SELECT o_orderkey, o_totalprice FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
"""


def q_join_anti(spark, sf_dir):
    """Left-anti: customers with no URGENT orders (NOT EXISTS shape)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    return anti_join(c, o, "c_custkey").select("c_custkey", "c_name")


SQL_JOIN_ANTI = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


# --------------------------------------------------------------------------
# Analytical layer (star agg / window / top-k)
# --------------------------------------------------------------------------

def q_star_agg(spark, sf_dir):
    """The Athena/Looker-layer star aggregation: revenue per region per
    order-month over the full fact↔dims join chain.  Dimensions broadcast;
    the fact shuffles once on the grouping key.  The fact is spread first:
    testdata arrives as one unsplittable row group, which would serialize
    the join+partial-agg stage onto one core (no-op on wide inputs)."""
    from .operators.partitioning import spread

    li = spread(_t(spark, sf_dir, "lineitem")).withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    n = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    r = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    joined = (
        li.join(o, "o_orderkey")
        .join(F.broadcast(c), "o_custkey")
        .join(F.broadcast(n), "c_nationkey")
        .join(F.broadcast(r), "n_regionkey")
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    )
    return (
        joined.groupBy(
            F.col("r_name").alias("region"),
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        )
        .agg(
            F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_STAR_AGG = """
SELECT r.r_name AS region,
       strftime(o.o_orderdate, '%Y-%m') AS order_month,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


def q_window_rank(spark, sf_dir):
    """Window top-N per group: 3 highest-value orders per priority."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
    )


SQL_WINDOW_RANK = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rank
    FROM orders)
WHERE rank <= 3
"""


def q_sort_limit_topk(spark, sf_dir):
    """Global orderBy + limit (Spark compiles to TakeOrderedAndProject —
    per-partition top-k then merge, no full sort at scale)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(10)
    )


SQL_SORT_LIMIT_TOPK = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 10
"""


# --------------------------------------------------------------------------
# Event-time windows / sessionization
# --------------------------------------------------------------------------

def q_event_sessionize(spark, sf_dir):
    """Tumbling event-time window aggregate (batch twin of the streaming
    plan): events per hour per type."""
    ev = _t(spark, sf_dir, "events")
    return sessionize.tumbling_agg(
        ev,
        ts_col="ts",
        duration="1 hour",
        group_cols=["event_type"],
        aggs={"n_events": F.count("*"), "sum_value": dsum("value")},
    )


SQL_EVENT_SESSIONIZE = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {DSUM_SQL.format(col='value')} AS sum_value
FROM events
-- F.window is an event-time generator: NULL ts produces no window row
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def q_session_windows(spark, sf_dir):
    """Gap-based sessionization (30-min gap) via lag + running sum."""
    ev = _t(spark, sf_dir, "events")
    return sessionize.sessionize(
        ev, key_col="user_id", ts_col="ts", gap_minutes=30, tiebreak_col="event_id"
    )


SQL_SESSION_WINDOWS = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END
               AS new_session
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
), sess AS (
    SELECT user_id, ts, value,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM flagged
)
SELECT user_id, session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       {DSUM_SQL.format(col='value')} AS sum_value
FROM sess GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Text analysis (LLM-data-pipeline extensions)
# --------------------------------------------------------------------------

def q_text_stats(spark, sf_dir):
    """Per-document quality metrics — all JVM expressions."""
    docs = _t(spark, sf_dir, "documents")
    out = text.quality_stats(docs)
    return out.select(
        "doc_id",
        "char_count",
        "token_count",
        "bpe_token_count",
        F.round("mean_token_len", 4).alias("mean_token_len"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
    )


SQL_TEXT_STATS = f"""
WITH t AS (
    SELECT doc_id, text, {TOKS_SQL.format(c='text')} AS toks FROM documents
)
SELECT doc_id,
       length(text) AS char_count,
       len(toks) AS token_count,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS bpe_token_count,
       ROUND(CASE WHEN len(toks) > 0
                  THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END, 4) AS mean_token_len,
       ROUND(CASE WHEN length(text) > 0
                  THEN CAST(length(text) - length(regexp_replace(text,
                       '[!"#$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{{|}}~]', '', 'g')) AS DOUBLE)
                       / length(text)
                  ELSE 0.0 END, 4) AS punct_ratio,
       ROUND(CASE WHEN len(toks) > 0
                  THEN CAST({_hits_sql('en')} AS DOUBLE) / len(toks)
                  ELSE 0.0 END, 4) AS stopword_ratio
FROM t
"""


def q_lang_id(spark, sf_dir):
    """Stopword-voting language ID vs the labeled ``lang`` column."""
    docs = _t(spark, sf_dir, "documents")
    return text.lang_id(docs).select("doc_id", "lang", "lang_pred")


def q_token_count(spark, sf_dir):
    """Corpus token accounting per source (whitespace + BPE-ish regex)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.sum(text.token_count("text")).alias("ws_tokens"),
            F.sum(text.bpe_token_count("text")).alias("bpe_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


SQL_TOKEN_COUNT = f"""
SELECT source,
       CAST(SUM(len({TOKS_SQL.format(c='text')})) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'))) AS BIGINT)
           AS bpe_tokens,
       COUNT(*) AS n_docs
FROM documents GROUP BY source
"""


def q_doc_fingerprint(spark, sf_dir):
    """Deterministic md5 content fingerprint of normalized text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.content_fingerprint("text").alias("fingerprint"))


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, md5({NORM_SQL.format(c='text')}) AS fingerprint FROM documents
"""


def q_dedup_exact_docs(spark, sf_dir):
    """Exact dedup groups by content fingerprint (keep lowest id)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dedup_exact_docs(docs)


SQL_DEDUP_EXACT_DOCS = f"""
SELECT md5({NORM_SQL.format(c='text')}) AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs within (source, lang) blocks.

    Block key built with NULL-propagating concat (not concat_ws, which
    SKIPS null fields): a NULL source/lang must yield a NULL block that
    joins with nothing — exactly what the oracle's ``||`` does.  With
    concat_ws, Spark would pair NULL-source docs under the phantom
    block '|lang' while DuckDB pairs none (review r4)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "block", F.concat("source", F.lit("|"), "lang")
    )
    return dedup.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", block_col="block", n=3, threshold=0.5
    )


SQL_NGRAM_JACCARD = f"""
WITH t AS (
    SELECT doc_id, source || '|' || lang AS block,
           list_distinct(list_transform(range(greatest(len(toks) - 2, 1)),
                         i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
    FROM (SELECT doc_id, source, lang, {TOKS_SQL.format(c='text')} AS toks FROM documents)
)
SELECT id_a, id_b, ROUND(raw_j, 6) AS jaccard_sim FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh)))
                ELSE 0.0 END AS raw_j
    FROM t a JOIN t b ON a.block = b.block AND a.doc_id < b.doc_id)
-- filter on the RAW jaccard, round only for output (the
-- minhash_dedup_pairs order of operations; boundary-consistent with
-- the q_dedup_clusters recursive oracle)
WHERE raw_j >= 0.5
"""


# --------------------------------------------------------------------------
# Embedding similarity (LLM-data-pipeline extensions)
# --------------------------------------------------------------------------

def q_similarity_topk(spark, sf_dir):
    """Exact brute-force cosine top-10 for 3 query vectors (the ANN
    correctness baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(emb, queries, k=10)


def q_embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs: cosine ≥ 0.3 within label blocks."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(emb, threshold=0.3)


SQL_EMBEDDING_NEARDUP = f"""
SELECT id_a, id_b, cosine_sim FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_COSINE_SQL.format(a='a.embedding', b='b.embedding')} AS cosine_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id)
WHERE cosine_sim >= 0.3
"""


def q_json_extract(spark, sf_dir):
    """JSON field extraction from the events props column (pipeline metadata
    parsing) — JVM-side get_json_object, no UDF.

    Non-integral ``k`` ('3.7', 'abc') yields NULL on BOTH engines: Spark
    try_cast rejects '3.7' while a plain CAST throws under ANSI, and
    DuckDB's CAST/TRY_CAST would ROUND it to 4 — so the oracle gates the
    cast behind an integer-literal regex to match try_cast exactly
    (review r4)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') AS INT)").alias("k"),
    )


SQL_JSON_EXTRACT = r"""
SELECT event_id,
       CASE WHEN trim(props->>'k') ~ '^[+-]?\d+$'
            THEN TRY_CAST(props->>'k' AS INTEGER) END AS k
FROM events
"""


def q_rollup_agg(spark, sf_dir):
    """ROLLUP hierarchy aggregate (status → priority → grand total)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
    )


SQL_ROLLUP_AGG = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {DSUM_SQL.format(col='o_totalprice')} AS sum_price
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def q_collect_agg(spark, sf_dir):
    """Array-building aggregation: sorted distinct set per group
    (collect_set → array_sort for deterministic cross-engine output)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        # serialize the sorted set to a string: array-valued output columns
        # break the driver's pandas canonicalizer (lists are unhashable in
        # sort_values/factorize); the CSV string carries identical info
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.count("*").alias("n_orders"),
    )


SQL_COLLECT_AGG = """
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def q_regexp_extract(spark, sf_dir):
    """Regex group extraction: pull the numeric id out of c_name
    ('Customer#000000042' shapes) and the trailing digits of source keys."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"#(\d+)", 1).alias("name_digits"),
        F.regexp_extract("c_name", r"^([A-Za-z]+)", 1).alias("name_word"),
    )


SQL_REGEXP_EXTRACT = """
SELECT c_custkey,
       COALESCE(regexp_extract(c_name, '#(\\d+)', 1), '') AS name_digits,
       COALESCE(regexp_extract(c_name, '^([A-Za-z]+)', 1), '') AS name_word
FROM customer
"""


def q_date_arith(spark, sf_dir):
    """Date/interval arithmetic battery: to_date, date_add, last_day,
    datediff-from-anchor, quarter, ISO weekday.  (Spark dayofweek is
    Sunday=1 vs DuckDB Sunday=0 — ISO weekday via weekday()+1 == isodow
    agrees everywhere.)"""
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_add(d, 30).alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.datediff(d, F.to_date(F.lit("1995-01-01"))).alias("days_since_1995"),
        F.quarter(d).alias("qtr"),
        (F.weekday(d) + 1).alias("dow_iso"),
    )


SQL_DATE_ARITH = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_1995,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(isodow(o_orderdate) AS INTEGER) AS dow_iso
FROM orders
"""


def q_cube_agg(spark, sf_dir):
    """CUBE aggregate: all grouping-set combinations of (status, priority)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price")
    )


SQL_CUBE_AGG = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {DSUM_SQL.format(col='o_totalprice')} AS sum_price
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_lag_lead_delta(spark, sf_dir):
    """lag/lead navigation: per-user inter-event gap seconds and next event
    type (NULL at partition edges in both engines)."""
    ev = _t(spark, sf_dir, "events")
    # (ts, event_id) ordering: ts alone leaves tied-timestamp rows in
    # engine-dependent order — every per-row lag/lead output would be
    # nondeterministic on data with duplicate (user, ts) (review r4)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # diff in exact microseconds, then floor-divide: Spark's
    # timestampdiff(SECOND) truncates the interval while DuckDB's
    # date_diff('second') counts boundary crossings — micros are exact in
    # both, so floor(micros/1e6) agrees everywhere
    gap_us = F.expr(
        "timestampdiff(MICROSECOND,"
        " lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    return ev.select(
        "user_id",
        "event_id",
        F.floor(gap_us / 1_000_000).alias("gap_seconds"),
        F.lead("event_type").over(w).alias("next_type"),
    )


SQL_LAG_LEAD_DELTA = """
SELECT user_id, event_id,
       CAST(floor(date_diff('microsecond', lag(ts) OVER w, ts) / 1000000.0) AS BIGINT)
           AS gap_seconds,
       lead(event_type) OVER w AS next_type
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
"""


def q_histogram(spark, sf_dir):
    """Fixed-width histogram of order values (floor-bucketing — the
    shuffle-once distribution profile)."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_orders"))
    )


SQL_HISTOGRAM = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS n_orders
FROM orders GROUP BY 1
"""


def q_corr_stats(spark, sf_dir):
    """Statistical aggregates: Pearson correlation, sample stddev/variance,
    min/max — rounded to absorb FP accumulation-order differences."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


SQL_CORR_STATS = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(stddev_samp(l_quantity), 4) AS std_qty,
       ROUND(var_samp(l_discount), 6) AS var_disc,
       ROUND(MIN(l_quantity), 2) AS min_qty,
       ROUND(MAX(l_quantity), 2) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_pivot_status(spark, sf_dir):
    """Pivot: order counts, status rows × priority columns (explicit pivot
    values → no extra distinct-collect pass at scale)."""
    o = _t(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    # coalesce-0: pivot().count() leaves an absent (status, priority)
    # cell NULL while the oracle's COUNT(*) FILTER yields 0 — sparse
    # real data would diverge cell-by-cell (review r4)
    zero = F.lit(0).cast("long")
    return pivoted.select(
        "o_orderstatus",
        F.coalesce(F.col("1-URGENT"), zero).alias("urgent"),
        F.coalesce(F.col("2-HIGH"), zero).alias("high"),
        F.coalesce(F.col("3-MEDIUM"), zero).alias("medium"),
        F.coalesce(F.col("4-NOT SPECIFIED"), zero).alias("not_specified"),
        F.coalesce(F.col("5-LOW"), zero).alias("low"),
    )


SQL_PIVOT_STATUS = """
SELECT o_orderstatus,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
       COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS high,
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       COUNT(*) FILTER (o_orderpriority = '5-LOW') AS low
FROM orders GROUP BY o_orderstatus
"""


def q_running_total(spark, sf_dir):
    """Running per-user total over event time (cumulative window frame)."""
    ev = _t(spark, sf_dir, "events")
    # (ts, event_id): unique ordering makes the running frame
    # deterministic under tied timestamps (review r4)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).over(w), 2)
        .cast("double")
        .alias("running_value"),
    )


SQL_RUNNING_TOTAL = """
SELECT user_id, event_id,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)))
                  OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id ROWS UNBOUNDED PRECEDING), 2)
            AS DOUBLE) AS running_value
FROM events
"""


def q_asof_join(spark, sf_dir):
    """Backward as-of join: each purchase event gets the user's most recent
    prior-or-equal signup time (union-and-carry-forward — one shuffle,
    no range explosion; see operators/joins.py:asof_join)."""
    from .operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select("user_id", "ts")
    out = asof_join(purchases, signups, on="user_id", value_cols=[])
    return out.select("event_id", "user_id", "matched_ts")


SQL_ASOF_JOIN = """
WITH purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     signups AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
SELECT p.event_id, p.user_id, s.ts AS matched_ts
FROM purchases p ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


def q_range_join_bands(spark, sf_dir):
    """Non-equi range join: events → peak band by hour-of-day interval
    (broadcast nested-loop of a 3-row band table — one streaming pass)."""
    from .operators.joins import range_join_bands

    ev = _t(spark, sf_dir, "events").withColumn("hour", F.hour("ts"))
    bands = spark.createDataFrame(
        [
            ("night_a", 0, 5),
            ("peak_am", 6, 9),
            ("off_peak", 10, 15),
            ("peak_pm", 16, 19),
            ("night_b", 20, 23),
        ],
        "band string, lo int, hi int",
    )
    joined = range_join_bands(ev, bands, "hour")
    return joined.groupBy("band").agg(
        F.count("*").alias("n_events"), dsum("value").alias("sum_value")
    )


SQL_RANGE_JOIN_BANDS = f"""
WITH bands AS (
    SELECT * FROM (VALUES ('night_a', 0, 5), ('peak_am', 6, 9), ('off_peak', 10, 15),
                          ('peak_pm', 16, 19), ('night_b', 20, 23)) t(band, lo, hi)
)
SELECT band, COUNT(*) AS n_events, {DSUM_SQL.format(col='value')} AS sum_value
FROM events e JOIN bands b ON hour(e.ts) BETWEEN b.lo AND b.hi
GROUP BY band
"""


def q_salted_join(spark, sf_dir):
    """Skew-mitigated join: salt the (big) lineitem side into 8 subkeys,
    explode the orders side across all salt values, join on (key, salt) —
    result must be IDENTICAL to the plain join, which is exactly what the
    oracle checks.  This is the manual fallback when AQE's runtime skew
    splitting isn't enough (one hot key beyond a single task's memory)."""
    from .operators.partitioning import explode_salt, salt

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_linenumber")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    salted_fact = salt(li, "l_orderkey", buckets=8)
    replicated_dim = explode_salt(o, buckets=8)
    return (
        salted_fact.join(replicated_dim, ["l_orderkey", "__salt"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


SQL_SALTED_JOIN = f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_rows,
       {DSUM_SQL.format(col='l.l_quantity')} AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def q_word_count(spark, sf_dir):
    """The canonical explode pipeline: tokens → explode → count per token,
    top-20 by frequency (deterministic tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


SQL_WORD_COUNT = f"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest({TOKS_SQL.format(c='text')}) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token LIMIT 20
"""


def q_sql_pricing_summary(spark, sf_dir):
    """§3.3 ad-hoc SQL layer: raw SQL through Spark's parser (TPC-H Q1
    shape).  The oracle is the SAME query string — dialect-neutral SQL."""
    from .sql import PRICING_SUMMARY_SQL, register_views, run_sql

    register_views(spark, sf_dir, tables=("lineitem",))
    return run_sql(spark, PRICING_SUMMARY_SQL)


def q_sql_shipping_priority(spark, sf_dir):
    """§3.3 ad-hoc SQL layer: join + agg + top-10 (TPC-H Q3 shape), same
    string on both engines."""
    from .sql import SHIPPING_PRIORITY_SQL, register_views, run_sql

    register_views(spark, sf_dir, tables=("lineitem", "orders", "customer"))
    return run_sql(spark, SHIPPING_PRIORITY_SQL)


def q_centroids(spark, sf_dir):
    """Per-cluster embedding centroids as (cluster, dim, mean) cells — the
    IVF coarse-quantizer build, oracle-checked (the array re-assembly step
    is covered by unit tests)."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.col("label").alias("cluster"), F.posexplode("embedding").alias("dim", "val")
    )
    return exploded.groupBy("cluster", "dim").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val")
    )


SQL_CENTROIDS = """
WITH cells AS (
    SELECT label AS cluster,
           unnest(range(len(embedding))) AS dim,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val
    FROM embeddings)
SELECT cluster, CAST(dim AS INTEGER) AS dim, ROUND(AVG(val), 6) AS mean_val
FROM cells GROUP BY cluster, dim
"""


def q_normalize_embeddings(spark, sf_dir):
    """L2 normalization (embedding preprocessing): after this cosine == dot.
    Scalar projections of the normalized vector keep the oracle comparison
    engine-portable."""
    from .operators.similarity import l2_norm, l2_normalize

    emb = _t(spark, sf_dir, "embeddings")
    normed = F.col("__normed")
    # an EMPTY vector has no norm/components: every facet is NULL,
    # matching DuckDB's empty-list sums — and element_at(.., 1) must not
    # probe the empty array under ANSI (degenerate-corpus sweep finding)
    nonempty = F.size("embedding") > 0
    return (
        emb.withColumn("__normed", l2_normalize(F.col("embedding")))
        .select(
            "vec_id",
            F.when(nonempty, F.round(l2_norm(F.col("embedding")), 6)).alias(
                "norm"
            ),
            F.when(nonempty, F.round(F.element_at(normed, 1), 6)).alias(
                "first_component"
            ),
            F.when(
                nonempty,
                F.round(
                    F.aggregate(normed, F.lit(0.0), lambda acc, x: acc + x * x),
                    6,
                ),
            ).alias("unit_check"),
        )
    )


SQL_NORMALIZE_EMBEDDINGS = """
WITH n AS (
    SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               AS norm
    FROM embeddings)
SELECT vec_id,
       ROUND(norm, 6) AS norm,
       ROUND(CAST(embedding[1] AS DOUBLE) / norm, 6) AS first_component,
       ROUND(list_sum(list_transform(embedding,
                                     x -> (CAST(x AS DOUBLE) / norm) * (CAST(x AS DOUBLE) / norm))), 6)
           AS unit_check
FROM n
"""


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (rolling min-hash window selection).
    Hash lane is md5 (engine-portable, lexicographic window minima), so the
    full selection is oracle-checkable; the selection-guarantee property is
    additionally tested in tests/test_text_dedup.py.

    STAGED: the hash array is projected into a column before the window
    pass — the inline composition re-evaluates md5 per window position
    (no CSE inside higher-order lambdas; measured 17s → 0.65s at sf0.1)."""
    from .operators.text import winnow_hashes, winnow_minima

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        winnow_hashes("text").alias("__h"),
        F.size(text.shingles("text")).alias("n_shingles"),
    )
    return staged.select(
        "doc_id",
        F.size(winnow_minima("__h")).alias("n_fingerprints"),
        "n_shingles",
    )


SQL_WINNOW_FINGERPRINTS = f"""
WITH base AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), sh AS (
  SELECT doc_id, toks,
         list_transform(
             range(0, greatest(len(toks) - 3, 0) + 1),
             i -> md5(array_to_string(list_slice(toks, i + 1, i + 3), ' '))
         ) AS hashes
  FROM base
)
SELECT doc_id,
       CAST(len(list_distinct(list_transform(
           range(0, greatest(len(hashes) - 4, 0) + 1),
           i -> list_min(list_slice(hashes, i + 1, i + 4))))) AS INTEGER)
           AS n_fingerprints,
       CAST(len(list_distinct(list_transform(
           range(0, greatest(len(toks) - 3, 0) + 1),
           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))) AS INTEGER)
           AS n_shingles
FROM sh
"""


def q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT set semantics: customers active in both 1995 and
    1996 vs only-1995 (tagged union keeps it one result set)."""
    o = _t(spark, sf_dir, "orders")
    c95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    c96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    both = c95.intersect(c96).withColumn("tag", F.lit("both"))
    # subtract == EXCEPT DISTINCT (set semantics); exceptAll would keep
    # per-row multiplicity and leak customers that appear in both years
    only95 = c95.subtract(c96).withColumn("tag", F.lit("only_1995"))
    return both.unionByName(only95)


SQL_SET_OPS = """
WITH c95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     c96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT o_custkey, 'both' AS tag FROM (SELECT o_custkey FROM c95 INTERSECT SELECT o_custkey FROM c96)
UNION ALL
SELECT DISTINCT o_custkey, 'only_1995' AS tag FROM (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c96)
"""


def q_string_funcs(spark, sf_dir):
    """String function battery: substring, concat, case shifts, trim-pad,
    regexp_replace, split-part, LIKE filter — same semantics in both
    engines."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").like("%1%")).select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "c_mktsegment", F.col("c_custkey").cast("string")).alias("seg_key"),
        F.length("c_name").alias("name_len"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
    )


SQL_STRING_FUNCS = """
SELECT c_custkey,
       upper(c_mktsegment) AS seg_upper,
       substring(c_name, 1, 8) AS name_prefix,
       concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
       length(c_name) AS name_len,
       regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded
FROM customer WHERE c_name LIKE '%1%'
"""


def q_array_ops(spark, sf_dir):
    """Array function battery over embeddings: size, element min/max,
    double-precision mean via aggregate fold, slice, sort-head.

    try_divide / try_element_at: an empty or sub-3-dim vector yields
    NULL on both engines — the ANSI strict forms would crash the Spark
    job where the DuckDB oracle serves NULL (review r4)."""
    emb = _t(spark, sf_dir, "embeddings")
    n = F.size("embedding")
    total = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return emb.select(
        "vec_id",
        n.alias("dim"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_val"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(F.try_divide(total, n), 6).alias("mean_val"),
        F.round(
            F.try_element_at(F.array_sort("embedding"), F.lit(3)).cast("double"), 6
        ).alias("third_smallest"),
    )


SQL_ARRAY_OPS = """
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
       ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
       ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) / len(embedding), 6)
           AS mean_val,
       ROUND(CAST(list_sort(embedding)[3] AS DOUBLE), 6) AS third_smallest
FROM embeddings
"""


def q_null_handling(spark, sf_dir):
    """Null-handling battery: nullif injection → fillna / coalesce /
    null-aware counts (nulls synthesized deterministically since testdata
    is null-free)."""
    o = _t(spark, sf_dir, "orders")
    with_nulls = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_n"),
        F.when(F.col("o_totalprice") < 50000, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price_n"),
    )
    return with_nulls.groupBy().agg(
        F.count("*").alias("n_rows"),
        F.count("status_n").alias("n_status_nonnull"),
        F.sum(F.col("price_n").isNull().cast("long")).alias("n_price_null"),
        F.round(F.sum(F.coalesce(F.col("price_n"), F.lit(0.0)).cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_price_filled"),
    )


SQL_NULL_HANDLING = """
WITH w AS (
    SELECT o_orderkey,
           NULLIF(o_orderstatus, 'P') AS status_n,
           CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS price_n
    FROM orders)
SELECT COUNT(*) AS n_rows,
       COUNT(status_n) AS n_status_nonnull,
       CAST(SUM(CASE WHEN price_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_price_null,
       CAST(ROUND(SUM(CAST(COALESCE(price_n, 0.0) AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price_filled
FROM w
"""


def q_data_quality(spark, sf_dir):
    """Expectation-style validation: all rules evaluated in ONE scan,
    one row per rule with its violation count (operators/validate.py)."""
    from .operators.validate import violation_counts

    li = _t(spark, sf_dir, "lineitem")
    rules = {
        "quantity_positive": F.col("l_quantity") > 0,
        "discount_in_range": F.col("l_discount").between(0.0, 0.3),
        "price_positive": F.col("l_extendedprice") > 0,
        "orderkey_not_null": F.col("l_orderkey").isNotNull(),
        "ship_before_2000": F.year("l_shipdate") < 2000,
    }
    return violation_counts(li, rules)


SQL_DATA_QUALITY = """
WITH t AS (
    SELECT COUNT(*) AS n_rows,
        -- CASE WHEN cond THEN 0 ELSE 1: NULL-evaluating rules count as
        -- violations, mirroring operators/validate.violation_counts
        CAST(SUM(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS BIGINT) AS quantity_positive,
        CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.3 THEN 0 ELSE 1 END) AS BIGINT) AS discount_in_range,
        CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS price_positive,
        CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS orderkey_not_null,
        CAST(SUM(CASE WHEN year(l_shipdate) < 2000 THEN 0 ELSE 1 END) AS BIGINT) AS ship_before_2000
    FROM lineitem)
SELECT r.rule,
       CASE r.rule WHEN 'quantity_positive' THEN quantity_positive
                   WHEN 'discount_in_range' THEN discount_in_range
                   WHEN 'price_positive' THEN price_positive
                   WHEN 'orderkey_not_null' THEN orderkey_not_null
                   WHEN 'ship_before_2000' THEN ship_before_2000 END AS n_violations,
       n_rows
FROM t, (VALUES ('quantity_positive'), ('discount_in_range'), ('price_positive'),
                ('orderkey_not_null'), ('ship_before_2000')) r(rule)
"""


def q_percentile(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``).  The exact variant is the correctness anchor
    for ``approx_percentile`` (q_approx_stats), the scale path."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("med_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
        F.count("*").alias("n_orders"),
    )


SQL_PERCENTILE = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS med_price,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


def q_approx_stats(spark, sf_dir):
    """Sketch aggregates — the 100 TB statistics path: HyperLogLog++
    distinct counts and t-digest-style approx percentiles (constant memory
    per group vs exact variants' full materialization).

    BOUNDS oracle (VERDICT r3 item 7): the sketch values are
    engine-specific, so the declared output carries the exact n_events
    plus per-group verdicts computed against exact twins in the same
    aggregation — approx_count_distinct within max(3·rsd = 15%, ±2) of
    the exact COUNT DISTINCT (default rsd 5%; measured relerr ≤ 6.7%
    across sf0.001/0.01/0.1) and approx_percentile(0.5) within 5% of the
    exact interpolated percentile (Greenwald-Khanna at default accuracy
    10k is rank-exact at these group sizes; measured ≤ 2.2%)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.round(F.expr("approx_percentile(value, 0.5)"), 4).alias("approx_med_value"),
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("ex_users"),
        F.expr("percentile(value, 0.5)").alias("ex_med"),
    ).select(
        "event_type",
        "n_events",
        # a group with no non-NULL values has nothing to bound: the
        # verdict is vacuously TRUE, matching the oracle's constant
        # (degenerate-corpus sweep finding)
        F.coalesce(
            F.abs(F.col("approx_users") - F.col("ex_users"))
            <= F.greatest(0.15 * F.col("ex_users"), F.lit(2.0)),
            F.lit(True),
        ).alias("users_within_3rsd"),
        F.coalesce(
            F.abs(F.col("approx_med_value") - F.col("ex_med"))
            <= 0.05 * F.abs(F.col("ex_med")) + 1e-6,
            F.lit(True),
        ).alias("med_within_5pct"),
    )


SQL_APPROX_STATS_BOUNDS = """
SELECT event_type, COUNT(*) AS n_events,
       TRUE AS users_within_3rsd,
       TRUE AS med_within_5pct
FROM events GROUP BY event_type
"""


def q_union_backfill(spark, sf_dir):
    """Multi-month backfill plumbing: two partition-filtered reads of the
    same fact unioned by name (schema-aligned), then re-aggregated —
    the incremental-ingest catch-up shape."""
    li = _t(spark, sf_dir, "lineitem")
    y95 = li.filter(F.year("l_shipdate") == 1995)
    y96 = li.filter(F.year("l_shipdate") == 1996)
    both = y95.unionByName(y96)
    return both.groupBy(F.year("l_shipdate").alias("ship_year")).agg(
        F.count("*").alias("n_rows"), dsum("l_extendedprice").alias("sum_price")
    )


SQL_UNION_BACKFILL = f"""
WITH both_years AS (
    SELECT * FROM lineitem WHERE year(l_shipdate) = 1995
    UNION ALL
    SELECT * FROM lineitem WHERE year(l_shipdate) = 1996
)
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       COUNT(*) AS n_rows,
       {DSUM_SQL.format(col='l_extendedprice')} AS sum_price
FROM both_years GROUP BY 1
"""

# Deterministic zone-lookup CSV content (FIXTURES.md A2 shape) — lets the S2
# CSV reader be oracle-checked via a VALUES literal on the DuckDB side.
ZONE_CSV_ROWS = [
    ("1", "EWR", "Newark Airport", "EWR"),
    ("2", "Queens", "Jamaica Bay", "Boro Zone"),
    ("3", "Bronx", "Allerton/Pelham Gardens", "Boro Zone"),
    ("4", "Manhattan", "Alphabet City", "Yellow Zone"),
    ("5", "Staten Island", "Arden Heights", "Boro Zone"),
]


def q_csv_lookup(spark, sf_dir):
    """S2 — CSV scan with header (the taxi-zone lookup, DM:220-228):
    all-string columns, read back row-identically."""
    import os

    from .plans.dims import dim_taxi_zone_lookup

    d = scratch("sg_csv_")
    path = os.path.join(d, "taxi_zone_lookup.csv")
    with open(path, "w") as f:
        f.write("LocationID,Borough,Zone,service_zone\n")
        for row in ZONE_CSV_ROWS:
            f.write(",".join(row) + "\n")
    return dim_taxi_zone_lookup(spark, path)


SQL_CSV_LOOKUP = "SELECT * FROM (VALUES {}) AS t(LocationID, Borough, Zone, service_zone)".format(
    ", ".join("({})".format(", ".join(f"'{c}'" for c in row)) for row in ZONE_CSV_ROWS)
)


# --------------------------------------------------------------------------
# Rows-only queries (non-SQL-expressible / non-deterministic / stateful)
# --------------------------------------------------------------------------


def q_multimodal_features(spark, sf_dir):
    """Multimodal binary-column plumbing: pack documents as (media_id,
    payload binary, metadata), decode/featurize via Arrow-batched
    mapInPandas (deterministic fake decoder — see operators/multimodal.py).

    The operator's contract stays array<double> (what a real decoder
    emits), but the DECLARED query projects scalar columns only: the
    driver's pandas canonicalizer cannot sort/hash list cells (the r2
    ERR), so the array is folded to a deterministic md5 + its length.
    The hash rides the exact-integer ``feat_ppm`` lane (floor of
    mean·1e6 + 0.5, identical IEEE op order in both engines), so the
    SQL oracle replays the whole Arrow/mapInPandas path byte-exactly —
    per-stride byte sums, counts, the division — with no double→string
    rendering in the loop (VERDICT r3 item 2).
    """
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.size("feat_ppm").alias("n_features"),
        F.md5(
            F.concat_ws(
                ",", F.transform("feat_ppm", lambda v: v.cast("string"))
            )
        ).alias("features_md5"),
    )


# SQL replay of the fake decoder: hex() the utf-8 payload once, then the
# byte at 0-based position p is substr(hex, 2p+1, 2); per stride d the
# byte positions are range(d, n, 8).  floor(sum/count*1e6+0.5) mirrors
# the Python lane's IEEE op order exactly.
FEATURE_DIM = multimodal.FEATURE_DIM

SQL_MULTIMODAL_FEATURES = f"""
WITH b AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), f AS (
  SELECT media_id, CAST(n AS BIGINT) AS n_bytes,
         list_transform(range(0, {FEATURE_DIM}), d ->
           CASE WHEN n > d THEN
             CAST(floor(
               CAST(list_sum(list_transform(range(d, n, {FEATURE_DIM}), p ->
                   ('0x' || substr(hx, p * 2 + 1, 2))::BIGINT)) AS DOUBLE)
               / len(range(d, n, {FEATURE_DIM})) * 1000000.0 + 0.5)
             AS BIGINT)
           ELSE 0 END) AS ppm
  FROM b
)
SELECT media_id, n_bytes,
       CAST(len(ppm) AS INTEGER) AS n_features,
       md5(array_to_string(ppm, ',')) AS features_md5
FROM f
"""

def q_dedup_fuzzy_minhash(spark, sf_dir):
    """MinHash-LSH near-dup pairs (xxhash64 banding → jaccard verify).
    Hash-family dependent → rows-only; correctness cross-checked against
    q_ngram_jaccard in unit tests (same planted near-dups must surface)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, threshold=0.5)


def q_dedup_simhash(spark, sf_dir):
    """SimHash banded near-dup pairs (Hamming ≤ 8)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_dedup_pairs(docs, max_hamming=8)


def q_similarity_ann_lsh(spark, sf_dir):
    """Multi-table random-hyperplane LSH ANN (the no-training scale path;
    brute-force twin q_similarity_topk anchors recall, measured by
    q_ann_recall).  (4 planes, 16 tables) is tuned for the synthetic
    near-uniform embeddings (top-10 cosine ≈ 0.3 — the hard LSH regime);
    clustered real embeddings sustain far fewer tables at the same
    recall.  Approximate → rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_ann_topk(emb, queries, k=10, num_planes=4, num_tables=16)


def q_similarity_ann_ivf(spark, sf_dir):
    """IVF-style ANN: probe 3 nearest label-centroids per query (recall<1
    by design — the scale path; brute-force twin is q_similarity_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(emb, queries, k=10, nprobe=3)


def q_uuid_pk(spark, sf_dir):
    """X7: uuid surrogate PK.  The uuid values themselves are
    non-deterministic, but the lane's OUTPUT is the distinctness
    contract (n_rows, n_ids) — and uuid() draws 122 random bits, so
    n_ids == n_rows except with probability < 1e-27 even at 1e6 rows
    (birthday bound n²/2^123).  That makes the contract itself
    hash-exactly oracle-checkable: the oracle asserts COUNT(*) twice."""
    li = _t(spark, sf_dir, "lineitem")
    with_id = li.withColumn("trip_id", F.expr("uuid()"))
    return with_id.agg(
        F.count("*").alias("n_rows"), F.countDistinct("trip_id").alias("n_ids")
    )


# uuid() can never value-match, but the declared output is the
# distinctness CONTRACT, not the uuids: n_ids == n_rows with certainty
# for any practical row count (see docstring), so the oracle states it.
SQL_UUID_PK = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_ids
FROM lineitem
"""


def q_partitioned_write_prune(spark, sf_dir):
    """S7+F4: partitioned write, read back with a partition-pruning filter
    (scans one directory, not the dataset)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    out = scratch("sg_prune_")
    write_partitioned_parquet(li, out, partition_by=["ship_year"])
    # explicit schema on the read-back (the catalog would supply it in
    # production): an EMPTY write leaves no files to infer from, which
    # otherwise raises UNABLE_TO_INFER_SCHEMA (empty-tables sweep find)
    back = spark.read.schema(li.schema).parquet(out).filter(
        F.col("ship_year") == 1996
    )
    return back.groupBy("ship_year").agg(
        F.count("*").alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
    )


SQL_PARTITIONED_WRITE_PRUNE = f"""
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       COUNT(*) AS n_rows,
       {DSUM_SQL.format(col='l_extendedprice')} AS sum_price
FROM lineitem
WHERE year(l_shipdate) = 1996
GROUP BY 1
"""


def q_warehouse_roundtrip(spark, sf_dir):
    """S6/S8/S9 over REAL JDBC (embedded Derby, on Spark's classpath):
    zero-row existence probe, first-time create, append of a month slice,
    read back — the exact surface of the reference's Postgres Job 2
    (PG:62-88).  Config resolution goes through the Job-2 bootstrap seam
    (sources/config.py); pointing SG_WH_URL at Postgres swaps the engine
    without a code change."""
    from .sources.config import drop_derby_memory_db, resolve_warehouse_config
    from .sources.writers import JdbcWarehouse

    url, props = resolve_warehouse_config()
    wh = JdbcWarehouse(spark, url, props)
    try:
        nation = _t(spark, sf_dir, "nation")
        if not wh.table_exists("dim_nation"):
            wh.create(nation, "dim_nation")
        jan = _t(spark, sf_dir, "orders").filter(
            F.date_format("o_orderdate", "yyyy-MM") == "1995-01"
        )
        wh.append(jan, "fact_orders")
        back = wh.read(spark, "fact_orders")
        return spark.createDataFrame(
            back.agg(
                F.count("*").alias("n_rows"), dsum("o_totalprice").alias("sum_price")
            ).collect(),
            "n_rows long, sum_price double",
        )
    finally:
        drop_derby_memory_db(spark, url)


SQL_WAREHOUSE_ROUNDTRIP = f"""
SELECT COUNT(*) AS n_rows,
       {DSUM_SQL.format(col='o_totalprice')} AS sum_price
FROM orders
WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'
"""


def q_stream_ingest(spark, sf_dir):
    """Structured Streaming file-source ingest (availableNow trigger) →
    windowed event aggregate into a memory sink — the Lambda/EventBridge
    replacement.  Oracle-checked stream/batch equivalence: the drained
    complete-mode result must equal the batch date_trunc('hour') rollup.
    Session timezone is pinned to UTC first — F.window aligns hour
    boundaries in SESSION-LOCAL time, so a half-hour-offset host tz would
    shift every window (all queries in this inventory are engineered to
    be tz-independent, so the pin is side-effect-free)."""
    from .streaming.ingest import (
        drain,
        ensure_event_time,
        stream_table,
        windowed_event_counts,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = ensure_event_time(stream_table(spark, sf_dir, "events"))
    agg = windowed_event_counts(events)
    return drain(agg, "sg_stream_counts", "complete").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


SQL_STREAM_INGEST = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_taxi_star_build(spark, sf_dir):
    """The flagship Job-1 pipeline on a synthetic raw month (FIXTURES.md
    A1 shape): rename → cast → dedup → filters → keys → band → final
    26-column fact.  uuid PK → rows-only.  The decimal(10,2) total_amount
    (the contract type, asserted in tests/test_star.py) is projected as
    double at the declared-query boundary — the driver canonicalizes
    rows-only outputs too, and its pandas lane treats Decimal as object.
    The deterministic hash twin is q_taxi_star_deterministic."""
    raw = _taxi_fixture(spark)
    fact = star.build_fact(raw, "2021", "1")
    return fact.withColumn("total_amount", F.col("total_amount").cast("double"))


def q_warehouse_load_plan(spark, sf_dir):
    """Job-2 semantics end-to-end: star build into a catalog DB, then dim
    create-if-missing + partition-pruned fact append via the Warehouse."""
    import shutil
    from urllib.parse import urlparse

    from . import catalog

    db = "sg_wh_demo"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    # a previously crashed run can leave the managed location behind; the
    # catalog refuses to recreate tables over it
    wh_root = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh_root}/{db}.db", ignore_errors=True)
    catalog.ensure_database(spark, db)
    raw = _taxi_fixture(spark)
    star.ensure_dimensions(spark, db)
    fact = star.build_fact(raw, "2021", "1")
    catalog.save_table(
        fact, db, "fact_uber_trips", partition_by=["processed_year", "processed_month"]
    )
    # real JDBC sink (embedded Derby via the config seam) — the same
    # load_star_to_warehouse plan runs against Postgres by env/config swap
    from .sources.config import drop_derby_memory_db, resolve_warehouse_config
    from .sources.writers import JdbcWarehouse

    url, props = resolve_warehouse_config()
    wh = JdbcWarehouse(spark, url, props)
    try:
        actions = warehouse.load_star_to_warehouse(spark, wh, db, "2021", "1")
    finally:
        drop_derby_memory_db(spark, url)
    rows = [(t, a) for t, a in sorted(actions.items())]
    return spark.createDataFrame(rows, "table_name string, action string")


# fresh in-memory Derby each run → every dim is create-if-missing 'created'
# and the fact month appends; the action log is fully deterministic, so a
# literal oracle pins it (regressions in probe/create/append routing or
# table naming hash-fail instead of hiding behind rows-only)
SQL_WAREHOUSE_LOAD_PLAN = """
SELECT * FROM (VALUES
    ('dim_date', 'created'),
    ('dim_payment_type', 'created'),
    ('dim_ratecode', 'created'),
    ('dim_store_and_fwd_flag', 'created'),
    ('dim_time', 'created'),
    ('dim_trip_peak_band', 'created'),
    ('dim_vendors', 'created'),
    ('fact_uber_trips', 'appended 2021-1')
) AS t(table_name, action)
"""


# --------------------------------------------------------------------------
# Registration, in inventory order
# --------------------------------------------------------------------------

register(q_scan_project_filter, SQL_SCAN_PROJECT_FILTER)
register(q_rename_cast, SQL_RENAME_CAST)
register(q_derived_columns, SQL_DERIVED_COLUMNS, bench=False)
register(q_case_recode, SQL_CASE_RECODE, bench=False)
register(q_dedup_exact, SQL_DEDUP_EXACT)
register(q_distinct_project, SQL_DISTINCT_PROJECT, bench=False)
register(q_generator_dim_date, SQL_GENERATOR_DIM_DATE)
register(q_generator_dim_time, SQL_GENERATOR_DIM_TIME, bench=False)
register(q_join_broadcast_dim, SQL_JOIN_BROADCAST_DIM)
register(q_join_semi, SQL_JOIN_SEMI)
register(q_join_anti, SQL_JOIN_ANTI, bench=False)
register(q_star_agg, SQL_STAR_AGG)
register(q_window_rank, SQL_WINDOW_RANK)
register(q_sort_limit_topk, SQL_SORT_LIMIT_TOPK)
register(q_event_sessionize, SQL_EVENT_SESSIONIZE)
register(q_session_windows, SQL_SESSION_WINDOWS)
register(q_text_stats, SQL_TEXT_STATS)
register(q_lang_id, SQL_LANG_ID)
register(q_token_count, SQL_TOKEN_COUNT, bench=False)
register(q_doc_fingerprint, SQL_DOC_FINGERPRINT)
register(q_dedup_exact_docs, SQL_DEDUP_EXACT_DOCS, bench=False)
register(q_ngram_jaccard, SQL_NGRAM_JACCARD, bench=False)
register(q_similarity_topk, SQL_SIMILARITY_TOPK)
register(q_embedding_neardup, SQL_EMBEDDING_NEARDUP, bench=False)
register(q_json_extract, SQL_JSON_EXTRACT)
register(q_salted_join, SQL_SALTED_JOIN, bench=False)
register(q_word_count, SQL_WORD_COUNT)
# the ad-hoc SQL layer's oracle is the very same dialect-neutral string
register(q_sql_pricing_summary, PRICING_SUMMARY_SQL, bench=False)
register(q_sql_shipping_priority, SHIPPING_PRIORITY_SQL, bench=False)
register(q_centroids, SQL_CENTROIDS, bench=False)
register(q_normalize_embeddings, SQL_NORMALIZE_EMBEDDINGS, bench=False)
register(q_winnow_fingerprints, SQL_WINNOW_FINGERPRINTS)
register(q_set_ops, SQL_SET_OPS, bench=False)
register(q_string_funcs, SQL_STRING_FUNCS, bench=False)
register(q_array_ops, SQL_ARRAY_OPS, bench=False)
register(q_null_handling, SQL_NULL_HANDLING, bench=False)
register(q_data_quality, SQL_DATA_QUALITY, bench=False)
register(q_percentile, SQL_PERCENTILE, bench=False)
# bounds oracle: exact counts + in-tolerance verdicts on the
# engine-specific sketch values
register(q_approx_stats, SQL_APPROX_STATS_BOUNDS, bench=False)
register(q_rollup_agg, SQL_ROLLUP_AGG)
register(q_date_arith, SQL_DATE_ARITH, bench=False)
register(q_collect_agg, SQL_COLLECT_AGG, bench=False)
register(q_regexp_extract, SQL_REGEXP_EXTRACT, bench=False)
register(q_cube_agg, SQL_CUBE_AGG)
register(q_lag_lead_delta, SQL_LAG_LEAD_DELTA)
register(q_histogram, SQL_HISTOGRAM, bench=False)
register(q_corr_stats, SQL_CORR_STATS)
register(q_pivot_status, SQL_PIVOT_STATUS, bench=False)
register(q_running_total, SQL_RUNNING_TOTAL)
register(q_asof_join, SQL_ASOF_JOIN)
register(q_range_join_bands, SQL_RANGE_JOIN_BANDS)
register(q_union_backfill, SQL_UNION_BACKFILL, bench=False)
register(q_csv_lookup, SQL_CSV_LOOKUP, bench=False)
# the Arrow/mapInPandas decode lane: byte-exact SQL replay on the integer
# feat_ppm fingerprint
register(q_multimodal_features, SQL_MULTIMODAL_FEATURES, bench=False)
# q_dedup_fuzzy_minhash / q_dedup_simhash / q_similarity_ann_ivf /
# q_similarity_ann_lsh are NOT registered (the q_taxi_star_build
# precedent): their outputs depend on hash families a SQL oracle
# cannot replay (xxhash64 bands, numpy-seeded hyperplanes), so they
# would sit as eternal `err: no_oracle` rows for near-zero evidence.
# Their operators are fully covered by the hash-exact twins
# q_minhash_dedup_oracle, q_simhash_oracle, q_ann_ivf_oracle and
# q_ann_lsh_oracle (same plans over replicable hash families) plus
# the recall dials (q_dedup_recall, q_ann_recall_oracle); the
# production-hash functions stay defined above and are exercised by
# tests/test_adversarial_inputs.py and tests/test_similarity.py.
register(q_uuid_pk, SQL_UUID_PK, bench=False)
# write-path / streaming queries with deterministic drained outputs:
# the oracle is the batch equivalent — a REAL stream/batch-equivalence
# check at the driver gate, not just a row count
register(q_partitioned_write_prune, SQL_PARTITIONED_WRITE_PRUNE, bench=False)
register(q_warehouse_roundtrip, SQL_WAREHOUSE_ROUNDTRIP, bench=False)
register(q_stream_ingest, SQL_STREAM_INGEST, bench=False)
# q_taxi_star_build (the uuid-PK star build) is NOT registered: it can
# never hash-match (uuid column), so it would add an eternal err row
# to every driver report for near-zero evidence.  Its pipeline is
# fully covered by q_taxi_star_deterministic (hash-green on all 25
# non-uuid columns) plus tests/test_ext15.py, which proves the uuid
# lane row-identical (minus trip_id) to the deterministic twin.
register(q_warehouse_load_plan, SQL_WAREHOUSE_LOAD_PLAN, bench=False)

# The extended inventory registers itself on import, in this order.
from . import (  # noqa: E402, F401
    queries_ext,
    queries_ext2,
    queries_ext3,
    queries_ext4,
    queries_ext5,
    queries_ext6,
    queries_ext7,
    queries_ext8,
    queries_ext9,
    queries_ext10,
    queries_ext11,
    queries_ext12,
    queries_ext13,
    queries_ext14,
    queries_ext15,
    queries_ext16,
    queries_ext17,
    queries_ext18,
    queries_ext19,
    queries_ext20,
    queries_ext21,
    queries_ext22,
    queries_ext23,
    queries_ext24,
    queries_ext25,
    queries_ext26,
    queries_ext27,
    queries_ext28,
    queries_ext29,
    queries_ext30,
    queries_ext31,
    queries_ext32,
    queries_ext33,
    queries_ext34,
    queries_ext35,
    queries_ext36,
    queries_ext37,
    queries_ext38,
    queries_ext39,
    queries_ext40,
    queries_ext41,
    queries_ext42,
    queries_ext43,
    queries_ext44,
    queries_ext45,
    queries_ext46,
    queries_ext47,
    queries_ext48,
    queries_ext49,
    queries_ext50,
    queries_ext51,
)
