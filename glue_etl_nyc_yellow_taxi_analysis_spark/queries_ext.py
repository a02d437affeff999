"""Extended query inventory — analytics, function batteries, pipeline shapes.

Widens SURVEY.md §2.9 beyond the round-1 core: grouping sets, window
navigation (ntile / percent_rank / cume_dist / nth_value / IGNORE NULLS),
range-frame moving aggregates, tie-safe arg-max, conditional aggregation
(FILTER semantics), second string/array batteries, bitwise ops, date_trunc,
linear-regression aggregates, unpivot (wide→long), positional explode,
sliding event-time windows, and two more dialect-neutral ad-hoc SQL queries
(TPC-H Q5/Q10 shapes).

Same cross-engine determinism rules as `queries.py` (see its docstring):
double sums go through DECIMAL(18,4); ratios are computed once and rounded;
every output column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import text
from .paths import scratch
from .registry import register
from .tables import DSUM_SQL, TOKS_SQL, _t, dsum


# --------------------------------------------------------------------------
# Grouping sets / multi-level aggregation
# --------------------------------------------------------------------------

def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping() markers — the general form of
    the ROLLUP/CUBE family (q_rollup_agg / q_cube_agg): three independent
    aggregation levels in ONE pass over the fact (one shuffle, Spark expands
    grouping sets map-side)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


SQL_GROUPING_SETS = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS n_orders,
       {DSUM_SQL.format(col='o_totalprice')} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# --------------------------------------------------------------------------
# Window navigation battery
# --------------------------------------------------------------------------

def q_window_navigation(spark, sf_dir):
    """ntile / percent_rank / cume_dist / nth_value / last-IGNORE-NULLS over
    one partition+order (Spark evaluates all five in a single Window exec —
    one shuffle on c_nationkey).  Order carries a unique tiebreak
    (c_custkey) so every function is row-deterministic."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nonneg = F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal"))
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
        F.nth_value("c_acctbal", 2).over(w_full).alias("second_lowest"),
        F.last(nonneg, ignorenulls=True).over(w_run).alias("last_nonneg"),
    )


SQL_WINDOW_NAVIGATION = """
SELECT c_custkey, c_nationkey, c_acctbal,
       ntile(4) OVER w AS quartile,
       ROUND(percent_rank() OVER w, 4) AS pct_rank,
       ROUND(cume_dist() OVER w, 4) AS cume,
       nth_value(c_acctbal, 2) OVER (
           PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_lowest,
       last_value(CASE WHEN c_acctbal >= 0 THEN c_acctbal END IGNORE NULLS)
           OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
                 ROWS UNBOUNDED PRECEDING) AS last_nonneg
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


def q_moving_avg(spark, sf_dir):
    """7-day RANGE-frame moving aggregate over the daily revenue rollup.
    Two-level plan: the groupBy shrinks the fact to ~1 row/day BEFORE the
    (unpartitioned) window — at 100 TB the window input is still only
    O(days), so the single-partition window exec is safe by construction.
    Decimal-summed inside the frame for cross-engine determinism."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        dsum("o_totalprice").alias("day_total")
    )
    w = (
        Window.orderBy(F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    sum_7d = (
        F.round(F.sum(F.col("day_total").cast("decimal(18,4)")).over(w), 2)
        .cast("double")
    )
    n_7d = F.count("*").over(w)
    return daily.select(
        "d",
        "day_total",
        sum_7d.alias("sum_7d"),
        n_7d.alias("n_days_7d"),
        # no ROUND here: engines disagree on decimal-halfway doubles; the raw
        # IEEE quotient is bit-identical on both sides (gate compares at 6dp)
        (sum_7d / n_7d).alias("avg_7d"),
    )


SQL_MOVING_AVG = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           {DSUM_SQL.format(col='o_totalprice')} AS day_total
    FROM orders GROUP BY 1
)
SELECT d, day_total,
       CAST(ROUND(SUM(CAST(day_total AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE)
           AS sum_7d,
       COUNT(*) OVER w AS n_days_7d,
       CAST(ROUND(SUM(CAST(day_total AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE)
           / (COUNT(*) OVER w) AS avg_7d
FROM daily
WINDOW w AS (ORDER BY date_diff('day', DATE '1970-01-01', d)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def q_argmax(spark, sf_dir):
    """Tie-safe arg-max/arg-min per group via max/min over a (value, key)
    struct — lexicographic struct ordering makes the answer deterministic
    even under value ties (plain max_by is not).  One hash-aggregate, no
    window, no second join — the scalable idiom for 'row with the max'."""
    o = _t(spark, sf_dir, "orders")
    pk = F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    best, worst = F.max(pk), F.min(pk)
    return o.groupBy("o_orderpriority").agg(
        best.getField("k").alias("top_orderkey"),
        best.getField("p").alias("top_price"),
        worst.getField("k").alias("bottom_orderkey"),
        worst.getField("p").alias("bottom_price"),
    )


SQL_ARGMAX = """
SELECT o_orderpriority,
       max({'p': o_totalprice, 'k': o_orderkey}).k AS top_orderkey,
       max({'p': o_totalprice, 'k': o_orderkey}).p AS top_price,
       min({'p': o_totalprice, 'k': o_orderkey}).k AS bottom_orderkey,
       min({'p': o_totalprice, 'k': o_orderkey}).p AS bottom_price
FROM orders GROUP BY o_orderpriority
"""


def q_conditional_agg(spark, sf_dir):
    """Conditional aggregation: count_if / bool_and / bool_or / filtered
    decimal sum (SQL FILTER clause semantics, null when no row matches).
    All partial-aggregable — map-side combine keeps the shuffle tiny."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("l_quantity") >= 40).alias("n_bulk"),
        F.bool_and(F.col("l_extendedprice") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_deep_discount"),
        dsum(F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))).alias(
            "returned_revenue"
        ),
    )


SQL_CONDITIONAL_AGG = """
SELECT l_linestatus,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE l_quantity >= 40) AS n_bulk,
       bool_and(l_extendedprice > 0) AS all_positive,
       bool_or(l_discount > 0.05) AS any_deep_discount,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                  FILTER (WHERE l_returnflag = 'R'), 2) AS DOUBLE)
           AS returned_revenue
FROM lineitem GROUP BY l_linestatus
"""


# --------------------------------------------------------------------------
# Function batteries (all JVM expressions — whole-stage codegen)
# --------------------------------------------------------------------------

def q_string_funcs2(spark, sf_dir):
    """Second string battery: split_part / reverse / translate / repeat /
    right-slice / instr / ascii / levenshtein."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.translate(F.col("p_type"), "AEIOU", "aeiou").alias("type_vowels"),
        F.repeat(F.substring("p_brand", 1, 2), 2).alias("brand2x"),
        F.substring(F.col("p_name"), -4, 4).alias("name_tail"),
        F.instr(F.col("p_name"), "an").alias("pos_an"),
        F.ascii(F.col("p_name")).alias("first_code"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#13")).alias("brand_dist"),
    )


SQL_STRING_FUNCS2 = """
SELECT p_partkey,
       split_part(p_name, ' ', 1) AS first_word,
       reverse(p_brand) AS brand_rev,
       translate(p_type, 'AEIOU', 'aeiou') AS type_vowels,
       repeat(left(p_brand, 2), 2) AS brand2x,
       right(p_name, 4) AS name_tail,
       strpos(p_name, 'an') AS pos_an,
       ascii(p_name) AS first_code,
       levenshtein(p_brand, 'Brand#13') AS brand_dist
FROM part
"""


def q_array_funcs2(spark, sf_dir):
    """Second array battery: intersect / union / except / flatten / slice /
    position / contains over per-row generated int sequences (results sorted
    so set-op element order is engine-independent)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    a = F.sequence(F.lit(1), (F.col("l_partkey") % 4 + 2).cast("int"))
    b = F.sequence((F.col("l_suppkey") % 3 + 1).cast("int"), F.lit(6), F.lit(2))
    # array-valued outputs are serialized to CSV strings: the driver's
    # pandas canonicalizer cannot hash list cells (same contract as
    # q_collect_agg); element info is preserved exactly
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws(",", F.array_sort(F.array_intersect(a, b))).alias("inter"),
        F.concat_ws(",", F.array_sort(F.array_union(a, b))).alias("uni"),
        F.concat_ws(",", F.array_sort(F.array_except(a, b))).alias("minus"),
        F.concat_ws(",", F.flatten(F.array(a, b))).alias("flat"),
        F.concat_ws(",", F.slice(a, 2, 2)).alias("mid"),
        F.array_position(a, 3).alias("pos3"),
        F.array_contains(b, 4).alias("has4"),
    )


SQL_ARRAY_FUNCS2 = """
WITH base AS (
    SELECT l_orderkey, l_linenumber,
           range(1, CAST(l_partkey % 4 + 2 AS INTEGER) + 1) AS a,
           range(CAST(l_suppkey % 3 + 1 AS INTEGER), 7, 2) AS b
    FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       -- COALESCE: DuckDB's array_to_string of an empty list is NULL,
       -- Spark's concat_ws of an empty array is '' — align on ''
       COALESCE(array_to_string(list_sort(list_intersect(a, b)), ','), '') AS inter,
       COALESCE(array_to_string(list_sort(list_distinct(list_concat(a, b))), ','), '')
           AS uni,
       COALESCE(array_to_string(list_sort(list_distinct(
           list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS minus,
       COALESCE(array_to_string(flatten([a, b]), ','), '') AS flat,
       COALESCE(array_to_string(list_slice(a, 2, 3), ','), '') AS mid,
       COALESCE(list_position(a, 3), 0) AS pos3,
       list_contains(b, 4) AS has4
FROM base
"""


def q_bitwise_ops(spark, sf_dir):
    """Bitwise battery: AND / OR / XOR / popcount / shifts on event ids."""
    ev = _t(spark, sf_dir, "events").select("event_id")
    e = F.col("event_id")
    return ev.select(
        "event_id",
        e.bitwiseAND(F.lit(255)).alias("low_byte"),
        e.bitwiseOR(F.lit(16)).alias("with_flag"),
        e.bitwiseXOR(F.lit(85)).alias("xored"),
        F.bit_count(e).cast("int").alias("popcount"),
        F.shiftleft(e, 2).alias("shl2"),
        F.shiftright(e, 3).alias("shr3"),
    )


SQL_BITWISE_OPS = """
SELECT event_id,
       event_id & 255 AS low_byte,
       event_id | 16 AS with_flag,
       xor(event_id, 85) AS xored,
       CAST(bit_count(event_id) AS INTEGER) AS popcount,
       event_id << 2 AS shl2,
       event_id >> 3 AS shr3
FROM events
"""


def q_date_trunc(spark, sf_dir):
    """date_trunc battery minute→quarter on event timestamps, NTZ-NATIVE:
    Spark's date_trunc coerces TIMESTAMP_NTZ through the session timezone
    (LTZ out — wrong answers in DST gaps under a non-UTC driver), so the
    truncations are computed as pure epoch arithmetic / field extraction
    on the NTZ value, which no session setting can perturb.  Pinned by
    tests/test_timezone.py."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"

    # FLOOR division, not `div`: Spark's `div` truncates toward zero, so
    # a pre-1970 timestamp would round UP to the next period start while
    # DuckDB's date_trunc floors (verified divergence, review r4)
    def fdiv(a: str, b: int) -> str:
        return f"((({a}) div {b}) - (CASE WHEN ({a}) % {b} < 0 THEN 1 ELSE 0 END))"

    def trunc_us(period_us: int):
        return F.expr(
            f"timestampadd(MICROSECOND, CAST({fdiv(us, period_us)}"
            f" AS BIGINT) * {period_us}, {epoch})"
        )

    day_us = 86_400_000_000
    d = fdiv(us, day_us)
    return ev.select(
        "event_id",
        trunc_us(60_000_000).alias("ts_minute"),
        trunc_us(3_600_000_000).alias("ts_hour"),
        trunc_us(day_us).alias("ts_day"),
        # Monday-start week: epoch day 0 was a Thursday → offset 3;
        # floor-mod keeps the weekday non-negative for pre-epoch days
        F.expr(
            f"timestampadd(DAY, CAST(({d})"
            f" - (((({d}) + 3) % 7 + 7) % 7) AS INT), {epoch})"
        ).alias("week_start"),
        F.expr(
            "make_timestamp_ntz(year(ts), month(ts), 1, 0, 0, 0)"
        ).alias("month_start"),
        F.expr(
            "make_timestamp_ntz(year(ts), 3 * quarter(ts) - 2, 1, 0, 0, 0)"
        ).alias("quarter_start"),
    )


SQL_DATE_TRUNC = """
SELECT event_id,
       CAST(date_trunc('minute', ts) AS TIMESTAMP) AS ts_minute,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts_day,
       CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
       CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start,
       CAST(date_trunc('quarter', ts) AS TIMESTAMP) AS quarter_start
FROM events
"""


def q_regr_stats(spark, sf_dir):
    """Linear-regression aggregates: slope / intercept / R² / sample+pop
    covariance / regr_count of extendedprice on quantity per returnflag.
    Normalized statistics are stable across partial-agg orders at the
    rounding used (floats are compared at 6 decimals by the gate)."""
    li = _t(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 3).alias("slope"),
        F.round(F.regr_intercept(y, x), 3).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.covar_samp(y, x), 2).alias("cov_s"),
        F.round(F.covar_pop(y, x), 2).alias("cov_p"),
        F.regr_count(y, x).alias("n"),
    )


SQL_REGR_STATS = """
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_quantity), 3) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 3) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       ROUND(covar_samp(l_extendedprice, l_quantity), 2) AS cov_s,
       ROUND(covar_pop(l_extendedprice, l_quantity), 2) AS cov_p,
       regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Reshaping / explode pipelines
# --------------------------------------------------------------------------

def q_unpivot_long(spark, sf_dir):
    """Wide→long unpivot (melt) of a per-priority metrics table — the
    inverse of q_pivot_status.  All measures cast to double so the single
    value column is type-stable."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return wide.unpivot(
        "o_orderpriority",
        ["n_orders", "sum_price", "min_price", "max_price"],
        "metric",
        "value",
    )


SQL_UNPIVOT_LONG = f"""
WITH wide AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS DOUBLE) AS n_orders,
           {DSUM_SQL.format(col='o_totalprice')} AS sum_price,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY 1
)
SELECT o_orderpriority, metric, value
FROM wide UNPIVOT (value FOR metric IN (n_orders, sum_price, min_price, max_price))
"""


def q_posexplode_tokens(spark, sf_dir):
    """Positional explode: (doc, position, token) rows from the token array
    — the indexed form of the q_word_count pipeline (generator preserves
    order; no shuffle at all)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(text.tokens(F.col("text"))).alias("pos", "tok")
    )


SQL_POSEXPLODE_TOKENS = f"""
SELECT doc_id, z[2] AS pos, z[1] AS tok
FROM (
    SELECT doc_id, unnest(list_zip(toks, range(0, len(toks)))) AS z
    FROM (SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents)
)
"""


def q_sliding_windows(spark, sf_dir):
    """Sliding (hopping) event-time windows: 10-minute windows every 5
    minutes — each event lands in exactly 2 windows.  Same `F.window`
    operator the streaming path uses; the oracle materializes the two
    shifted tumbling grids explicitly."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value"
        )
    )


SQL_SLIDING_WINDOWS = f"""
WITH sec AS (
    SELECT event_type, value,
           date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS s
    -- F.window is an event-time generator: NULL ts produces no window row
    FROM events WHERE ts IS NOT NULL
), g AS (
    SELECT event_type, value, (s // 300) * 300 - k AS start_s
    FROM sec CROSS JOIN (SELECT unnest([0, 300]) AS k)
)
SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL '1 second' * start_s AS w_start,
       event_type,
       COUNT(*) AS n_events,
       {DSUM_SQL.format(col='value')} AS sum_value
FROM g GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Ad-hoc SQL layer (§3.3) — dialect-neutral strings, oracle == query
# --------------------------------------------------------------------------

LOCAL_SUPPLIER_REVENUE_SQL = """
SELECT n.n_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
            AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
"""

RETURNED_ITEM_REVENUE_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
            AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_sql_local_supplier(spark, sf_dir):
    """§3.3 ad-hoc SQL: 6-table star join + agg (TPC-H Q5 shape).  Catalyst
    broadcast-joins the four dim-side tables; only orders↔lineitem shuffles.
    Oracle is the same string."""
    from .sql import register_views, run_sql

    register_views(
        spark,
        sf_dir,
        tables=("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    return run_sql(spark, LOCAL_SUPPLIER_REVENUE_SQL)


def q_sql_returned_items(spark, sf_dir):
    """§3.3 ad-hoc SQL: returned-item revenue top-20 (TPC-H Q10 shape),
    deterministic ORDER/LIMIT.  Oracle is the same string."""
    from .sql import register_views, run_sql

    register_views(spark, sf_dir, tables=("customer", "orders", "lineitem", "nation"))
    return run_sql(spark, RETURNED_ITEM_REVENUE_SQL)


register(q_grouping_sets, SQL_GROUPING_SETS)
register(q_window_navigation, SQL_WINDOW_NAVIGATION, bench=False)
register(q_moving_avg, SQL_MOVING_AVG)
register(q_argmax, SQL_ARGMAX, bench=False)
register(q_conditional_agg, SQL_CONDITIONAL_AGG)
register(q_string_funcs2, SQL_STRING_FUNCS2, bench=False)
register(q_array_funcs2, SQL_ARRAY_FUNCS2, bench=False)
register(q_bitwise_ops, SQL_BITWISE_OPS, bench=False)
register(q_date_trunc, SQL_DATE_TRUNC, bench=False)
register(q_regr_stats, SQL_REGR_STATS, bench=False)
register(q_unpivot_long, SQL_UNPIVOT_LONG, bench=False)
register(q_posexplode_tokens, SQL_POSEXPLODE_TOKENS, bench=False)
register(q_sliding_windows, SQL_SLIDING_WINDOWS)
register(q_sql_local_supplier, LOCAL_SUPPLIER_REVENUE_SQL)
register(q_sql_returned_items, RETURNED_ITEM_REVENUE_SQL, bench=False)


# --------------------------------------------------------------------------
# Batch 2: multi-distinct, keyed dedup, HOFs, maps, try-arithmetic
# --------------------------------------------------------------------------

def q_multi_distinct(spark, sf_dir):
    """Several exact COUNT(DISTINCT) in one aggregate — Spark plans this
    with Expand (one duplicate-elimination lane per distinct column), still
    a single pass over the fact."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.countDistinct(F.year("o_orderdate")).alias("n_years"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


SQL_MULTI_DISTINCT = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_orderpriority) AS n_priorities,
       COUNT(DISTINCT year(o_orderdate)) AS n_years,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY o_orderstatus
"""


def q_dedup_keyed(spark, sf_dir):
    """Keyed dedup, deterministic form: keep the EARLIEST row per
    (user_id, event_type).  `dropDuplicates(subset)` keeps an arbitrary row
    — at scale that is nondeterministic across runs — so production dedup
    is arg-min over a (ts, unique-id) struct: one hash/sort aggregate, same
    shuffle as dropDuplicates but reproducible."""
    ev = _t(spark, sf_dir, "events")
    first = F.min(
        F.struct(
            F.col("ts").alias("ts"),
            F.col("event_id").alias("id"),
            F.col("value").alias("v"),
        )
    )
    return ev.groupBy("user_id", "event_type").agg(
        first.getField("ts").alias("first_ts"),
        first.getField("id").alias("first_event_id"),
        first.getField("v").alias("first_value"),
    )


SQL_DEDUP_KEYED = """
-- row_number with explicit NULLS FIRST, not struct-min: Spark's struct
-- ordering ranks a NULL field SMALLEST while DuckDB's min() ranks it
-- largest, so the two struct-min forms diverge on NULL-ts rows
SELECT user_id, event_type,
       ts AS first_ts, event_id AS first_event_id, value AS first_value
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id, event_type
      ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
  FROM events)
WHERE rn = 1
"""


def q_hof_battery(spark, sf_dir):
    """Higher-order functions: transform / filter / exists / forall /
    zip_with / aggregate over per-row int sequences.  zip_with pads the
    shorter array with NULL in both engines (asserted by construction:
    |a| ∈ [2,5], |b| = 6)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    a = F.sequence(F.lit(1), (F.col("l_partkey") % 4 + 2).cast("int"))
    b = F.sequence(F.lit(2), F.lit(7))
    # array outputs serialized to CSV (driver-hashable); prods keeps its
    # zip_with NULL padding visible as 'N' (concat_ws alone drops nulls)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws(",", F.transform(a, lambda x: x * 2)).alias("doubled"),
        F.concat_ws(",", F.filter(a, lambda x: x % 2 == 1)).alias("odds"),
        F.exists(a, lambda x: x > 4).alias("has_gt4"),
        F.forall(a, lambda x: x > 0).alias("all_pos"),
        F.concat_ws(
            ",",
            F.transform(
                F.zip_with(a, b, lambda x, y: x * y),
                lambda x: F.coalesce(x.cast("string"), F.lit("N")),
            ),
        ).alias("prods"),
        F.aggregate(a, F.lit(0), lambda acc, x: acc + x).alias("total"),
    )


SQL_HOF_BATTERY = """
WITH base AS (
    SELECT l_orderkey, l_linenumber,
           range(1, CAST(l_partkey % 4 + 2 AS INTEGER) + 1) AS a,
           range(2, 8) AS b
    FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       array_to_string(list_transform(a, x -> x * 2), ',') AS doubled,
       array_to_string(list_filter(a, x -> x % 2 = 1), ',') AS odds,
       len(list_filter(a, x -> x > 4)) > 0 AS has_gt4,
       len(list_filter(a, x -> NOT (x > 0))) = 0 AS all_pos,
       array_to_string(list_transform(list_zip(a, b),
           z -> COALESCE(CAST(z[1] * z[2] AS VARCHAR), 'N')), ',') AS prods,
       CAST(COALESCE(list_sum(a), 0) AS INTEGER) AS total
FROM base
"""


def q_map_ops(spark, sf_dir):
    """Map-typed column battery: create_map / map_keys / element_at /
    map_contains_key / map_filter / map_values.  The map itself never
    reaches the output (maps are unordered — not hashable cross-engine);
    every output is a deterministic projection of it."""
    o = _t(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_sorted"),
        F.element_at(m, "status").alias("status_val"),
        F.map_contains_key(m, "priority").alias("has_priority"),
        F.concat_ws(
            ",", F.map_values(F.map_filter(m, lambda k, v: k == "status"))
        ).alias("status_only"),
        F.size(m).alias("n_entries"),
    )


SQL_MAP_OPS = """
SELECT o_orderkey,
       'priority,status' AS keys_sorted,
       o_orderstatus AS status_val,
       TRUE AS has_priority,
       o_orderstatus AS status_only,
       2 AS n_entries
FROM orders
"""


def q_try_arith(spark, sf_dir):
    """ANSI-safe arithmetic: try_divide (NULL on zero denominator),
    try_cast (NULL on malformed input), try_element_at (NULL out of
    bounds).  Under ANSI mode (Spark 4 default) the plain operators THROW —
    these are the scale-safe forms for dirty data."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_linenumber") - 1).alias(
            "per_prior_line"
        ),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.try_element_at(F.sequence(F.lit(1), F.lit(3)), F.lit(10)).alias("elem10"),
    )


SQL_TRY_ARITH = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice / (l_linenumber - 1) AS per_prior_line,
       TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
       [1, 2, 3][10] AS elem10
FROM lineitem
"""


def q_cross_join_small(spark, sf_dir):
    """Explicit cartesian product of two tiny inputs (the only sane cross
    join at scale: both sides O(1), Spark broadcasts one side into a
    nested-loop)."""
    r = _t(spark, sf_dir, "region").select("r_name")
    s = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


SQL_CROSS_JOIN_SMALL = """
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
"""


ORDER_PRIORITY_CHECK_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
ORDER BY o_orderpriority
"""


def q_sql_order_priority(spark, sf_dir):
    """§3.3 ad-hoc SQL: correlated EXISTS subquery (TPC-H Q4 shape) —
    Catalyst decorrelates it into a left-semi join.  Oracle is the same
    string."""
    from .sql import register_views, run_sql

    register_views(spark, sf_dir, tables=("orders", "lineitem"))
    return run_sql(spark, ORDER_PRIORITY_CHECK_SQL)


register(q_multi_distinct, SQL_MULTI_DISTINCT, bench=False)
register(q_dedup_keyed, SQL_DEDUP_KEYED, bench=False)
register(q_hof_battery, SQL_HOF_BATTERY, bench=False)
register(q_map_ops, SQL_MAP_OPS, bench=False)
register(q_try_arith, SQL_TRY_ARITH, bench=False)
register(q_cross_join_small, SQL_CROSS_JOIN_SMALL, bench=False)
register(q_sql_order_priority, ORDER_PRIORITY_CHECK_SQL, bench=False)


# --------------------------------------------------------------------------
# Batch 3: warehouse evolution (SCD2, merge), JSON roundtrip, null-safe join
# --------------------------------------------------------------------------

def q_scd2_history(spark, sf_dir):
    """SCD type-2 dimension history from a change log: each event closes
    the previous validity window for its (user, type) and opens a new one.
    One shuffle on the business key (operators/scd.py)."""
    from .operators.scd import scd2_history

    # NULL-propagating concat (not concat_ws): a NULL business-key field
    # must yield a NULL dim_key — the oracle's || semantics (review r4)
    ev = _t(spark, sf_dir, "events").withColumn(
        "dim_key",
        F.concat(F.col("user_id").cast("string"), F.lit("|"), "event_type"),
    )
    return scd2_history(
        ev,
        key_col="dim_key",
        ts_col="ts",
        attr_cols=["value"],
        tiebreak_col="event_id",
        # partition on the REAL business key: the NULL-propagating
        # dim_key collapses every NULL-keyed row into one partition,
        # chaining unrelated histories (hostile-gate finding, round 5)
        partition_cols=["user_id", "event_type"],
    )


SQL_SCD2_HISTORY = """
SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS dim_key,
       value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts NULLS FIRST, event_id)
"""


def q_upsert_merge(spark, sf_dir):
    """MERGE/upsert semantics on plain parquet snapshots: updates win on
    key collision, new keys append (operators/merge.py — left-anti +
    unionByName; the small update side broadcasts, the base never
    shuffles)."""
    from .operators.merge import merge_upsert

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    updates = (
        o.filter(F.col("o_orderstatus") == "O")
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 1000 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    return merge_upsert(o, updates.unionByName(inserts), keys=["o_orderkey"])


SQL_UPSERT_MERGE = """
WITH base AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders
), upd AS (
    SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
           o_orderpriority
    FROM base WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey + 10000000, 'N', o_totalprice, o_orderpriority
    FROM base WHERE o_orderkey % 1000 = 0
)
SELECT * FROM upd
UNION ALL
SELECT b.* FROM base b WHERE NOT EXISTS (
    SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
"""


def q_json_roundtrip(spark, sf_dir):
    """Structured → JSON → structured roundtrip: to_json(struct) then
    from_json with an explicit schema.  Doubles survive exactly (shortest
    decimal representation parses back bit-identical); the JSON string
    itself never reaches the output (engines format JSON differently)."""
    ev = _t(spark, sf_dir, "events")
    schema = "struct<event_id:bigint,event_type:string,value:double>"
    j = F.to_json(F.struct("event_id", "event_type", "value"))
    parsed = F.from_json(j, schema)
    return ev.select(
        "event_id",
        parsed.getField("event_type").alias("parsed_type"),
        parsed.getField("value").alias("parsed_value"),
        F.get_json_object(j, "$.event_type").alias("extracted_type"),
    )


SQL_JSON_ROUNDTRIP = """
SELECT event_id,
       event_type AS parsed_type,
       value AS parsed_value,
       event_type AS extracted_type
FROM events
"""


def q_join_null_safe(spark, sf_dir):
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    NULL keys — a real join variant plain equi joins cannot express (they
    drop NULL keys).  Still hash-joinable: Catalyst broadcasts the 3-row
    dim."""
    o = _t(spark, sf_dir, "orders")
    left = o.select("o_orderkey", F.nullif("o_orderstatus", F.lit("O")).alias("status_n"))
    dim = (
        left.groupBy("status_n")
        .agg(F.count("*").alias("n_in_status"))
        .withColumnRenamed("status_n", "dim_status_n")
    )
    return left.join(
        F.broadcast(dim), F.col("status_n").eqNullSafe(F.col("dim_status_n")), "inner"
    ).select("o_orderkey", "status_n", "n_in_status")


SQL_JOIN_NULL_SAFE = """
WITH l AS (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_n FROM orders),
     d AS (SELECT status_n, COUNT(*) AS n_in_status FROM l GROUP BY status_n)
SELECT l.o_orderkey, l.status_n, d.n_in_status
FROM l JOIN d ON l.status_n IS NOT DISTINCT FROM d.status_n
"""


register(q_scd2_history, SQL_SCD2_HISTORY, bench=False)
register(q_upsert_merge, SQL_UPSERT_MERGE, bench=False)
register(q_json_roundtrip, SQL_JSON_ROUNDTRIP, bench=False)
register(q_join_null_safe, SQL_JOIN_NULL_SAFE, bench=False)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS, not just pairs: connected components over the
    3-gram-Jaccard candidate graph (alternating large-star/small-star
    contraction — two keyed shuffles per round, O(log² n) rounds on any
    topology; see operators/dedup.connected_components).  Every document
    gets a cluster id (its component's smallest doc_id; singletons
    cluster with themselves) and a cluster size — the canonical
    keep-one-per-cluster dedup driver."""
    from .operators import dedup as dd

    # NULL-propagating concat, matching q_ngram_jaccard's key semantics
    # and the recursive-CTE oracle's || (review r4)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "block", F.concat("source", F.lit("|"), "lang")
    )
    pairs = dd.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", block_col="block", n=3, threshold=0.5
    )
    comp = dd.connected_components(pairs, src="id_a", dst="id_b")
    out = (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["u"], "left")
        .select(
            "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
        )
    )
    w = Window.partitionBy("cluster_id")
    return out.select("doc_id", "cluster_id", F.count("*").over(w).alias("cluster_size"))


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE t AS (
    SELECT doc_id, source || '|' || lang AS block,
           list_distinct(list_transform(range(greatest(len(toks) - 2, 1)),
                         i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
    FROM (SELECT doc_id, source, lang, {TOKS_SQL.format(c='text')} AS toks FROM documents)
), pairs AS (
    SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                    THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh)))
                    ELSE 0.0 END AS jaccard_sim
        FROM t a JOIN t b ON a.block = b.block AND a.doc_id < b.doc_id)
    WHERE jaccard_sim >= 0.5
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
), reach(u, v) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
), comp AS (
    SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COUNT(*) OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id)) AS cluster_size
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""

register(q_dedup_clusters, SQL_DEDUP_CLUSTERS, bench=False)


# --------------------------------------------------------------------------
# Batch 4: iterative k-means trainer + stream-stream interval join
# --------------------------------------------------------------------------

def q_kmeans_train(spark, sf_dir):
    """Lloyd's k-means over the embeddings table (the IVF coarse-quantizer
    trainer, operators/similarity.kmeans_train): deterministic smallest-id
    init, broadcast-centroid assignment passes, (cluster × dim)-cell
    re-average shuffles, fixpoint detection.

    BOUNDS oracle (VERDICT r3 item 7): the float-mean centroids carry
    shuffle-order fp jitter, so the declared output is the training
    invariants — all k clusters survive (smallest-id init on the
    near-uniform embeddings never empties one; measured k=8 at
    sf0.001/0.01/0.1), the cluster sizes partition the corpus exactly,
    and every centroid norm is positive and ≤ the max point norm (a mean
    of points cannot leave their norm ball).  The bit-replicable trainer
    twin is q_kmeans_oracle (decimal-sum lane, chained-CTE replay).

    CONTRACT: the bounds oracle is pinned to the gate fixture's
    distribution (k = 8 surviving clusters, nonzero norms) — corpora
    with fewer than k distinct points or all-zero vectors diverge from
    it BY DESIGN (the q_pivot_dynamic class); the trainer itself fails
    soft on them (explicit init schema, empty-safe loop)."""
    from .operators.similarity import kmeans_train

    emb = _t(spark, sf_dir, "embeddings")
    out = kmeans_train(emb, k=8, max_iter=5)
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, v: a + v)
    )
    stats = out.agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_points").alias("total_points"),
        F.min(norm("centroid")).alias("min_cnorm"),
        F.max(norm("centroid")).alias("max_cnorm"),
    )
    pnorm = emb.select(norm(F.col("embedding").cast("array<double>")).alias("pn")).agg(
        F.max("pn").alias("max_pnorm")
    )
    return stats.crossJoin(F.broadcast(pnorm)).select(
        "n_clusters",
        "total_points",
        (
            (F.col("min_cnorm") > 0)
            & (F.col("max_cnorm") <= F.col("max_pnorm") * (1 + 1e-6))
        ).alias("norms_ok"),
    )


SQL_KMEANS_TRAIN_BOUNDS = """
SELECT CAST(8 AS BIGINT) AS n_clusters,
       COUNT(*) AS total_points,
       TRUE AS norms_ok
FROM embeddings
"""


def q_stream_join(spark, sf_dir):
    """Stream-stream interval join (clicks ⋈ views within 10 minutes per
    user) through Structured Streaming with watermarked state expiry —
    aggregated to per-user pair counts.  Oracle-checked: the availableNow
    drain is a single micro-batch (no late data to drop), so the batch
    self-join replays it exactly."""
    from .streaming.ingest import (
        drain,
        ensure_event_time,
        interval_join_streams,
        stream_table,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def one_side(event_type):
        s = ensure_event_time(stream_table(spark, sf_dir, "events"))
        return s.filter(F.col("event_type") == event_type)

    joined = interval_join_streams(one_side("click"), one_side("view"))
    return (
        drain(joined, "sg_stream_join")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
    )


register(q_kmeans_train, SQL_KMEANS_TRAIN_BOUNDS, bench=False)

# stream-stream interval join drains deterministically under availableNow
# (single micro-batch; no late data to drop), so the batch self-join IS
# the oracle — a hash-checked stream/batch-equivalence gate
SQL_STREAM_JOIN = """
SELECT l.user_id AS user_id, COUNT(*) AS n_pairs
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'view'
 AND r.ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts
GROUP BY l.user_id
"""
register(q_stream_join, SQL_STREAM_JOIN, bench=False)


# --------------------------------------------------------------------------
# Batch 5: file-format roundtrips, SQL DDL, and LLM-pipeline text ops
# --------------------------------------------------------------------------

def q_jsonl_source(spark, sf_dir):
    """JSON-lines sink + source roundtrip: write events as JSONL, read back
    with an explicit schema (never inferred — schema inference is a full
    extra pass at scale), aggregate.  Doubles survive the text roundtrip
    exactly (shortest-decimal representation)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out_dir = scratch("sg_jsonl_") + "/data"
    ev.coalesce(4).write.mode("overwrite").json(out_dir)
    back = spark.read.schema("event_id bigint, event_type string, value double").json(
        out_dir
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"), dsum("value").alias("sum_value")
    )


SQL_JSONL_SOURCE = f"""
SELECT event_type, COUNT(*) AS n_events,
       {DSUM_SQL.format(col='value')} AS sum_value
FROM events GROUP BY event_type
"""


def q_orc_roundtrip(spark, sf_dir):
    """ORC sink + source roundtrip (the second columnar format the engine
    speaks natively); same explicit-schema discipline as JSONL."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out_dir = scratch("sg_orc_") + "/data"
    ev.coalesce(4).write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir)
    return back.groupBy("event_type").agg(
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.count("*").alias("n_events"),
    )


SQL_ORC_ROUNDTRIP = """
SELECT event_type, MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_sql_ctas(spark, sf_dir):
    """SQL DDL surface: CREATE TABLE AS SELECT into the session catalog
    (the Glue-Catalog-registration path as plain SQL), read back by name.
    Re-runnable: drops first."""
    from .sql import register_views

    register_views(spark, sf_dir, tables=("orders",))
    spark.sql("CREATE DATABASE IF NOT EXISTS sg_ctas")
    spark.sql("DROP TABLE IF EXISTS sg_ctas.priority_summary")
    # a fresh metastore + persistent warehouse dir can leave an orphaned
    # managed-table location the DROP above doesn't know about — scrub it
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/sg_ctas.db/priority_summary", ignore_errors=True)
    spark.sql(
        """CREATE TABLE sg_ctas.priority_summary USING PARQUET AS
           SELECT o_orderpriority, COUNT(*) AS n_orders,
                  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
                      AS sum_price
           FROM orders GROUP BY o_orderpriority"""
    )
    return spark.table("sg_ctas.priority_summary")


SQL_CTAS = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {DSUM_SQL.format(col='o_totalprice')} AS sum_price
FROM orders GROUP BY o_orderpriority
"""


def q_doc_chunk(spark, sf_dir):
    """Training-data chunking: overlapping fixed-size token windows
    (50 tokens, stride 40) per document — generator + slice, zero shuffles,
    the canonical context-window prep step."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(40)
    )
    # NULL text chunks to NOTHING on both engines — without the guard,
    # greatest() swallows the NULL size and posexplode emits one
    # phantom ''-chunk row (the ordered_shingles class; sweep finding)
    chunks = F.when(
        toks.isNull(), F.array().cast("array<array<string>>")
    ).otherwise(F.transform(starts, lambda s: F.slice(toks, s + 1, 50)))
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").alias("n_tokens"),
            F.concat_ws(" ", "chunk").alias("chunk_text"),
        )
    )


SQL_DOC_CHUNK = f"""
WITH t AS (
    SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), s AS (
    -- NULL text chunks to nothing (mirrors the Spark-side guard)
    SELECT doc_id, toks,
           unnest(range(0, greatest(len(toks), 1), 40)) AS st
    FROM t WHERE toks IS NOT NULL
)
SELECT doc_id,
       st // 40 AS chunk_idx,
       len(list_slice(toks, st + 1, st + 50)) AS n_tokens,
       array_to_string(list_slice(toks, st + 1, st + 50), ' ') AS chunk_text
FROM s
"""


def q_tf_idf(spark, sf_dir):
    """TF-IDF top-3 terms per document: token explode → per-(doc, term)
    counts → document frequency join → ln(N/df) weighting → windowed top-k.
    Corpus size N rides along as a broadcast 1-row aggregate (no driver
    collect)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "tf", "df", "tfidf", "rank")
    )


SQL_TF_IDF = f"""
WITH toks AS (
    SELECT doc_id, unnest({TOKS_SQL.format(c='text')}) AS tok FROM documents
), tf AS (
    SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
), df AS (
    SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
), n AS (
    SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
    SELECT tf.doc_id, tf.tok, tf.tf, df.df,
           ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tf, df, tfidf, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, tok) AS rank
    FROM scored)
WHERE rank <= 3
"""


def q_text_scrub(spark, sf_dir):
    """PII-style scrubbing battery: mask email-shaped and numeric runs,
    count the masked spans (regexp_count / regexp_extract_all) — one JVM
    regex pass, the standard pre-training cleanup shape."""
    docs = _t(spark, sf_dir, "documents")
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    lowered = F.lower(F.col("text"))
    masked = F.regexp_replace(
        F.regexp_replace(lowered, email, "<EMAIL>"), r"[0-9]+", "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.length(masked).alias("masked_len"),
        F.regexp_count(lowered, F.lit(email)).alias("n_emails"),
        F.regexp_count(lowered, F.lit(r"[0-9]+")).alias("n_num_runs"),
        F.substring(masked, 1, 80).alias("masked_prefix"),
    )


SQL_TEXT_SCRUB = r"""
SELECT doc_id,
       length(regexp_replace(regexp_replace(lower(text),
              '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
              '[0-9]+', '<NUM>', 'g')) AS masked_len,
       len(regexp_extract_all(lower(text),
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
       len(regexp_extract_all(lower(text), '[0-9]+')) AS n_num_runs,
       substring(regexp_replace(regexp_replace(lower(text),
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]+', '<NUM>', 'g'), 1, 80) AS masked_prefix
FROM documents
"""


register(q_jsonl_source, SQL_JSONL_SOURCE, bench=False)
register(q_orc_roundtrip, SQL_ORC_ROUNDTRIP, bench=False)
register(q_sql_ctas, SQL_CTAS, bench=False)
register(q_doc_chunk, SQL_DOC_CHUNK, bench=False)
register(q_tf_idf, SQL_TF_IDF, bench=False)
register(q_text_scrub, SQL_TEXT_SCRUB, bench=False)


def q_groupwise_zscore(spark, sf_dir):
    """applyInPandas grouped-map operator: per-nation z-scores of customer
    balances, numpy inside, Arrow both directions (operators/pandas_ops).
    Oracle is the pure-SQL window twin — proving the Python escape hatch
    agrees with the JVM math."""
    from .operators.pandas_ops import groupwise_zscore

    c = _t(spark, sf_dir, "customer").withColumn(
        "nation_key", F.col("c_nationkey").cast("string")
    )
    return groupwise_zscore(
        c, group_col="nation_key", value_col="c_acctbal", id_col="c_custkey"
    )


SQL_GROUPWISE_ZSCORE = """
SELECT CAST(c_nationkey AS VARCHAR) AS nation_key,
       c_custkey,
       c_acctbal,
       CASE WHEN stddev_samp(c_acctbal) OVER w > 0
            THEN ROUND((c_acctbal - avg(c_acctbal) OVER w)
                       / stddev_samp(c_acctbal) OVER w, 6)
            ELSE 0.0 END AS zscore
FROM customer
WINDOW w AS (PARTITION BY c_nationkey)
"""

register(q_groupwise_zscore, SQL_GROUPWISE_ZSCORE, bench=False)
