"""Extension batch IV — sequence analytics and exact-at-scale patterns.

Fourth widening batch: gaps-and-islands streak detection, sweep-line
interval concurrency, weighted mean/median, Markov transition matrices,
ordered LISTAGG, bitmap-based exact distinct counting (the shuffle-light
alternative to COUNT(DISTINCT) at 100 TB), two-phase salted aggregation
(skew pattern proven equal to the plain aggregate through the oracle),
struct-array column ops, time-weighted averages over irregular series,
and character-trigram language profiles.

All ten queries are DuckDB-oracle-checked.  Cross-engine determinism
rules (see queries.py docstring) apply throughout: double sums via
DECIMAL(18,4), single rounded divisions, ties broken by explicit
secondary keys, identical column aliases both sides.

Reference anchor: the star schema's analytical layer
(glue_job_scripts/etl-glue-nyc-yellow-data-model.py:305-319 derives
hour-band analytics; the Athena/Looker boxes in the architecture diagram
declare ad-hoc analytics as the product) — SURVEY §2.6/§2.9.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import register
from .tables import _t


# --------------------------------------------------------------------------
# Gaps and islands — consecutive-day activity streaks
# --------------------------------------------------------------------------

def q_islands_gaps(spark, sf_dir):
    """Per-user consecutive-day activity streaks (gaps-and-islands).

    Classic island key: epoch_day(activity_day) - row_number() is constant
    within a run of consecutive days.  Scale shape: one shuffle on user_id
    for the row_number window; the two group-bys reuse that partitioning
    (partial aggregation map-side), so the whole query is a single exchange.
    """
    days = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island",
        F.datediff("day", F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("len"), F.min("day").alias("start")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count("*").alias("n_streaks"),
            F.max("len").alias("max_streak"),
            F.max(F.struct("len", "start")).alias("_best"),
        )
        .select(
            "user_id",
            "n_streaks",
            "max_streak",
            F.col("_best.start").alias("best_start"),
        )
    )


SQL_ISLANDS_GAPS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
         datediff('day', DATE '1970-01-01', day)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start
  FROM islands GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, len, start,
         MAX(len) OVER (PARTITION BY user_id) AS mx
  FROM streaks
)
SELECT user_id,
       COUNT(*) AS n_streaks,
       MAX(len) AS max_streak,
       MAX(start) FILTER (WHERE len = mx) AS best_start
FROM ranked
GROUP BY user_id
"""

register(q_islands_gaps, SQL_ISLANDS_GAPS)


# --------------------------------------------------------------------------
# Sweep-line interval concurrency
# --------------------------------------------------------------------------

def q_interval_overlap(spark, sf_dir):
    """Max concurrent 30-minute event intervals per event_type (sweep line).

    Each event opens an interval [ts, ts+30min); +1/-1 deltas are summed per
    distinct boundary instant FIRST (so ordering among simultaneous
    boundaries can never matter), then a running sum over instants yields
    concurrency.  The running sum goes through the chunked two-phase
    operator (operators/prefix.running_sum): a window partitioned by the
    5-value event_type alone would cap parallelism at 5 regardless of
    cluster size.
    """
    from .operators.prefix import running_sum

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    deltas = ev.select(
        "event_type", F.col("ts").alias("at"), F.lit(1).alias("delta")
    ).unionByName(
        ev.select(
            "event_type",
            F.expr("timestampadd(MINUTE, 30, ts)").alias("at"),
            F.lit(-1).alias("delta"),
        )
    )
    per_instant = deltas.groupBy("event_type", "at").agg(
        F.sum("delta").alias("delta")
    ).withColumn(
        "at_us",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', at)"
        ),
    )
    return (
        running_sum(
            per_instant, "event_type", "at_us", "delta", out_col="concurrent"
        )
        .groupBy("event_type")
        .agg(F.max("concurrent").alias("max_concurrent"))
    )


SQL_INTERVAL_OVERLAP = """
WITH deltas AS (
  SELECT event_type, ts AS at, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE AS at, -1 AS delta FROM events
),
per_instant AS (
  SELECT event_type, at, SUM(delta) AS delta FROM deltas GROUP BY 1, 2
)
SELECT event_type,
       CAST(MAX(concurrent) AS BIGINT) AS max_concurrent
FROM (
  SELECT event_type,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY at
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrent
  FROM per_instant
)
GROUP BY event_type
"""

register(q_interval_overlap, SQL_INTERVAL_OVERLAP)


# --------------------------------------------------------------------------
# Weighted mean + weighted median
# --------------------------------------------------------------------------

def q_weighted_stats(spark, sf_dir):
    """Quantity-weighted mean and median of extended price per return flag.

    Weighted mean from exact decimal sums (one rounded division at the
    end).  Weighted median = smallest price whose running weight reaches
    half the total — computed with the BUCKETED two-phase operator
    (operators/quantiles.weighted_median): the naive formulation is a
    cumulative window partitioned by a 3-value key, i.e. 3-way
    parallelism no matter the cluster; the bucketed plan touches the
    wide data only with hash aggregates and runs the exact window on
    ~1/64 of one group.  The oracle remains the naive window SQL — same
    answer, different physical plan.
    """
    from .operators.quantiles import weighted_median

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("decimal(18,4)").alias("qty"),
    )
    med = weighted_median(
        li, "l_returnflag", "price", "qty", out_col="wmedian_price"
    )
    stats = li.groupBy("l_returnflag").agg(
        F.sum(F.col("price").cast("decimal(18,4)") * F.col("qty")).alias("_pw"),
        F.sum("qty").alias("_w"),
    )
    return (
        stats.join(med, "l_returnflag")
        .select(
            "l_returnflag",
            F.round(
                F.col("_pw").cast("double") / F.col("_w").cast("double"), 4
            ).alias("wavg_price"),
            "wmedian_price",
        )
    )


SQL_WEIGHTED_STATS = """
WITH li AS (
  SELECT l_returnflag, l_extendedprice AS price,
         CAST(l_quantity AS DECIMAL(18,4)) AS qty
  FROM lineitem
),
cum AS (
  SELECT l_returnflag, price, qty,
         SUM(qty) OVER (PARTITION BY l_returnflag ORDER BY price
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(qty) OVER (PARTITION BY l_returnflag) AS tw
  FROM li
),
med AS (
  SELECT l_returnflag, MIN(price) AS wmedian_price
  FROM cum WHERE cw * 2 >= tw GROUP BY 1
),
stats AS (
  SELECT l_returnflag,
         SUM(CAST(price AS DECIMAL(18,4)) * qty) AS pw,
         SUM(qty) AS w
  FROM li GROUP BY 1
)
SELECT s.l_returnflag,
       ROUND(CAST(s.pw AS DOUBLE) / CAST(s.w AS DOUBLE), 4) AS wavg_price,
       m.wmedian_price
FROM stats s JOIN med m ON s.l_returnflag = m.l_returnflag
"""

register(q_weighted_stats, SQL_WEIGHTED_STATS)


# --------------------------------------------------------------------------
# Markov transition matrix
# --------------------------------------------------------------------------

def q_markov_transitions(spark, sf_dir):
    """Event-type transition counts and probabilities (first-order Markov).

    Per user, events ordered by (ts, event_id); lag gives the previous
    type.  P(next | prev) = pair count / outgoing count of prev, computed
    as one rounded integer division.  Scale shape: one shuffle on user_id
    for the lag window; the pair group-by is a second (tiny-cardinality)
    exchange; the outgoing totals come from a window over the pair counts
    — no extra scan of the input.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    w_prev = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_prev), 6)
        .cast("double")
        .alias("prob"),
    )


SQL_MARKOV_TRANSITIONS = """
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       CAST(ROUND(n / SUM(n) OVER (PARTITION BY prev_type), 6) AS DOUBLE)
         AS prob
FROM pairs
"""

register(q_markov_transitions, SQL_MARKOV_TRANSITIONS)


# --------------------------------------------------------------------------
# Ordered LISTAGG
# --------------------------------------------------------------------------

def q_listagg(spark, sf_dir):
    """Deterministic ordered string aggregation (LISTAGG WITHIN GROUP).

    Spark 4 ships ANSI listagg; the engine uses it with an explicit
    WITHIN GROUP order so output is reproducible under any partitioning.
    Distinct statuses per priority plus the order count.
    """
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(DISTINCT o_orderstatus, '|')"
            " WITHIN GROUP (ORDER BY o_orderstatus)"
        ).alias("statuses"),
        F.count("*").alias("n_orders"),
    )


SQL_LISTAGG = """
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
         AS statuses,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""

register(q_listagg, SQL_LISTAGG)


# --------------------------------------------------------------------------
# Bitmap exact distinct
# --------------------------------------------------------------------------

def q_bitmap_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT user_id) per event_type via 32-bit bitmaps.

    The scale pattern behind roaring-bitmap distinct counting: map each id
    to (word = id >> 5, bit = 1 << (id & 31)), OR the words per group, sum
    popcounts.  Unlike COUNT(DISTINCT) this pre-aggregates map-side to at
    most one row per (group, word) — shuffle volume is bounded by the id
    range / 32 instead of the raw row count, and the partial state is
    mergeable (the materialized-view / rollup property HLL gives only
    approximately).  Oracle is the plain COUNT(DISTINCT).
    """
    ev = _t(spark, sf_dir, "events")
    # NULL ids contribute an empty word, not a NULL bitmap: COUNT
    # (DISTINCT) ignores NULL but KEEPS the group, so a group with only
    # NULL ids must yield 0, never NULL (hypothesis-gate find)
    words = ev.groupBy(
        "event_type",
        F.coalesce(F.shiftright("user_id", 5), F.lit(0)).alias("word_idx"),
    ).agg(
        F.bit_or(
            F.expr(
                "CASE WHEN user_id IS NULL THEN CAST(0 AS BIGINT)"
                " ELSE shiftleft(CAST(1 AS BIGINT),"
                " CAST(user_id % 32 AS INT)) END"
            )
        ).alias("word")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).alias("n_users")
    )


SQL_BITMAP_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""

register(q_bitmap_distinct, SQL_BITMAP_DISTINCT)


# --------------------------------------------------------------------------
# Two-phase salted aggregation
# --------------------------------------------------------------------------

def q_salted_agg(spark, sf_dir):
    """Skew-proof two-phase aggregation, oracle-proven equal to the plain
    group-by.

    Phase 1 groups by (hot key, salt) — 16-way fan-out of each hot key so
    no single reducer owns a whole key; phase 2 merges the mergeable
    partials (decimal sums + counts).  Because the sums are exact decimals,
    re-association cannot perturb the result, which is what lets the
    oracle be the unsalted aggregate.  l_returnflag (3 values over the
    whole fact table) is precisely the worst-case skew shape.
    """
    li = _t(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("salt", (F.xxhash64("l_orderkey", "l_linenumber") % 16))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("ps"),
        )
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(F.sum("pn").alias("n"), F.sum("ps").alias("_s"))
        .select(
            "l_returnflag",
            "n",
            F.round("_s", 2).cast("double").alias("sum_price"),
            # divide as double: decimal division scale depends on the
            # accumulated precision (28,4 plain vs 38,4 after the salted
            # re-merge), which double-rounds differently — double division
            # of the exact decimal sum is identical on every path/engine
            F.round(F.col("_s").cast("double") / F.col("n"), 4).alias(
                "avg_price"
            ),
        )
    )


SQL_SALTED_AGG = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         / COUNT(*), 4) AS avg_price
FROM lineitem
GROUP BY l_returnflag
"""

register(q_salted_agg, SQL_SALTED_AGG)


# --------------------------------------------------------------------------
# Struct-array column ops
# --------------------------------------------------------------------------

def q_struct_ops(spark, sf_dir):
    """Struct/array-of-struct battery: collect per-order line structs, sort
    lexicographically, access fields positionally.

    Exercises named_struct construction, collect_list, array_sort's struct
    ordering, element_at field access, and struct-valued MAX (arg-max by
    (quantity, linenumber)).  Scale shape: a single shuffle on the order
    key; per-order arrays are tiny (≤7 lines).
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "l_quantity"))
            ).alias("_lines"),
            F.max(F.struct("l_quantity", "l_linenumber")).alias("_top"),
        )
        .select(
            "l_orderkey",
            F.size("_lines").alias("n_lines"),
            F.element_at("_lines", 1)["l_quantity"].alias("first_qty"),
            F.element_at("_lines", -1)["l_linenumber"].alias("last_line"),
            F.col("_top.l_quantity").alias("max_qty"),
            F.col("_top.l_linenumber").alias("max_qty_line"),
        )
    )


SQL_STRUCT_OPS = """
WITH mx AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         MAX(l_quantity) OVER (PARTITION BY l_orderkey) AS mq,
         MIN(l_linenumber) OVER (PARTITION BY l_orderkey) AS mn
  FROM lineitem
)
SELECT l_orderkey,
       COUNT(*) AS n_lines,
       MIN(l_quantity) FILTER (WHERE l_linenumber = mn) AS first_qty,
       MAX(l_linenumber) AS last_line,
       MAX(l_quantity) AS max_qty,
       MAX(l_linenumber) FILTER (WHERE l_quantity = mq) AS max_qty_line
FROM mx
GROUP BY l_orderkey
"""

register(q_struct_ops, SQL_STRUCT_OPS)


# --------------------------------------------------------------------------
# Time-weighted average
# --------------------------------------------------------------------------

def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted mean value per user over an irregular event series.

    Each observation holds (LOCF) until the next event; its weight is that
    interval in MICROseconds (timestampdiff on NTZ — session-timezone-proof
    and exact at the storage precision; second-level diffs would diverge
    cross-engine because Spark truncates elapsed time while DuckDB counts
    boundary crossings).  TWA = Σ value·dt / Σ dt from exact decimal
    numerators, one rounded double division.  Scale shape: one shuffle on
    user_id shared by the lead window and the final aggregate.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spans = (
        ev.withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .select(
            "user_id",
            F.col("value").cast("decimal(18,4)").alias("v"),
            F.expr("timestampdiff(MICROSECOND, ts, next_ts)").alias("dt"),
        )
    )
    return (
        spans.groupBy("user_id")
        .agg(
            F.sum(F.col("v") * F.col("dt")).alias("_num"),
            F.sum("dt").alias("_den"),
        )
        .filter(F.col("_den") > 0)
        .select(
            "user_id",
            F.col("_den").alias("observed_us"),
            F.round(
                F.col("_num").cast("double") / F.col("_den").cast("double"), 6
            ).alias("twa_value"),
        )
    )


SQL_TIME_WEIGHTED_AVG = """
WITH spans AS (
  SELECT user_id,
         CAST(value AS DECIMAL(18,4)) AS v,
         datediff('microseconds', ts,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)) AS dt
  FROM events
)
SELECT user_id,
       CAST(SUM(dt) AS BIGINT) AS observed_us,
       ROUND(CAST(SUM(v * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE), 6)
         AS twa_value
FROM spans
WHERE dt IS NOT NULL
GROUP BY user_id
HAVING SUM(dt) > 0
"""

register(q_time_weighted_avg, SQL_TIME_WEIGHTED_AVG)


# --------------------------------------------------------------------------
# Character-trigram language profile
# --------------------------------------------------------------------------

def q_char_ngram_profile(spark, sf_dir):
    """Top-20 character trigrams per language (n-gram LM profile build).

    The feature-extraction stage of classic n-gram language ID: slide a
    3-char window over lowercased text (sequence+explode — generated
    map-side, no UDF), count, rank per language with a deterministic
    (count desc, gram asc) order.  Scale shape: explode inflates ~500×
    map-side but partial aggregation collapses it before the single
    shuffle on (lang, gram); the top-k window shuffles only the distinct
    grams.
    """
    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.lower("text").alias("txt")
    )
    # guard sub-3-char text: Spark's sequence(1, len-2) DESCENDS when
    # len < 3 (sequence(1,-1) = [1,0,-1]) and would fabricate phantom
    # grams, while DuckDB's generate_series yields [] — emit nothing for
    # short docs on both engines (review r4)
    grams = docs.filter(F.length("txt") >= 3).select(
        "lang",
        F.explode(F.sequence(F.lit(1), F.length("txt") - 2)).alias("i"),
        "txt",
    ).select("lang", F.expr("substring(txt, i, 3)").alias("gram"))
    counts = grams.groupBy("lang", "gram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("gram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("lang", "gram", "n", "rank")
    )


SQL_CHAR_NGRAM_PROFILE = """
WITH grams AS (
  SELECT lang, substr(txt, CAST(i AS INT), 3) AS gram
  FROM (
    SELECT lang, lower(text) AS txt,
           unnest(generate_series(1, length(text) - 2)) AS i
    FROM documents
  )
),
counts AS (
  SELECT lang, gram, COUNT(*) AS n FROM grams GROUP BY 1, 2
)
SELECT lang, gram, n, rank
FROM (
  SELECT lang, gram, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC)
           AS rank
  FROM counts
)
WHERE rank <= 20
"""

register(q_char_ngram_profile, SQL_CHAR_NGRAM_PROFILE)
