"""Extended query inventory II — time-series, behavioral, and maintenance ops.

Second widening batch beyond `queries_ext.py`: calendar gap-fill with
forward-fill (keyed time-series repair), event funnels, numerically
reproducible rolling anomaly detection, edit-distance fuzzy matching,
cohort retention matrices, deterministic stratified sampling, and
incremental (mergeable partial) aggregate maintenance — the
materialized-view pattern a warehouse needs for month-over-month loads
(reference reprocesses one month per run:
glue_job_scripts/etl-glue-nyc-yellow-data-model.py:358-371).

Cross-engine determinism rules (see queries.py docstring) apply: double
sums via DECIMAL(18,4); rolling std derived from decimal moment sums, not
floating accumulators; sampling keyed on md5 hex (bit-identical in Spark
and DuckDB); every output column aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .paths import scratch
from .registry import register
from .tables import DSUM_SQL, TOKS_SQL, _t, dsum


# --------------------------------------------------------------------------
# Time-series gap-fill + forward fill
# --------------------------------------------------------------------------

def q_gap_fill(spark, sf_dir):
    """Keyed calendar gap-fill: per order-priority daily revenue series with
    missing days materialized (per-key sequence+explode — no driver loop, no
    cross join with a global calendar) and revenue forward-filled via
    last(..., ignorenulls) over a running frame.

    Scale shape: one shuffle on the series key for the window; the calendar
    explode is generated map-side per key.  At 100 TB the key count is what
    matters (windows parallelize per key), not the series length.
    """
    o = _t(spark, sf_dir, "orders").withColumn(
        "day", F.col("o_orderdate").cast("date")
    )
    daily = o.groupBy("o_orderpriority", "day").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )
    span = daily.groupBy("o_orderpriority").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = span.select(
        "o_orderpriority",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        calendar.join(daily, ["o_orderpriority", "day"], "left")
        .select(
            "o_orderpriority",
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.last("revenue", ignorenulls=True).over(w).alias("ff_revenue"),
        )
    )


SQL_GAP_FILL = f"""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         COUNT(*) AS n_orders,
         {DSUM_SQL.format(col='o_totalprice')} AS revenue
  FROM orders GROUP BY 1, 2
),
span AS (
  SELECT o_orderpriority, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
),
calendar AS (
  SELECT o_orderpriority,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
)
SELECT c.o_orderpriority, c.day,
       COALESCE(d.n_orders, 0) AS n_orders,
       last_value(d.revenue IGNORE NULLS) OVER (
         PARTITION BY c.o_orderpriority ORDER BY c.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_revenue
FROM calendar c LEFT JOIN daily d
  ON c.o_orderpriority = d.o_orderpriority AND c.day = d.day
"""

register(q_gap_fill, SQL_GAP_FILL)


# --------------------------------------------------------------------------
# Event funnel
# --------------------------------------------------------------------------

def q_funnel(spark, sf_dir):
    """Ordered three-stage funnel (view -> click -> purchase) computed from ONE
    conditional-min aggregation per user — no self-joins, no per-stage
    passes.  A stage counts only if its first occurrence is strictly after
    the previous stage's first occurrence (classic funnel semantics).

    Scale shape: one shuffle on user_id for the per-user min-pivot, then a
    tiny global rollup — the canonical two-level aggregation that survives
    any fact size.
    """
    e = _t(spark, sf_dir, "events")

    def first_ts(kind):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.coalesce(F.col("t_click") > F.col("t_view"), F.lit(False))
    purchased = clicked & F.coalesce(
        F.col("t_purchase") > F.col("t_click"), F.lit(False)
    )
    staged = per_user.select(
        viewed.cast("int").alias("s1"),
        clicked.cast("int").alias("s2"),
        purchased.cast("int").alias("s3"),
    )
    return staged.agg(
        F.sum("s1").alias("n_view"),
        F.sum("s2").alias("n_view_click"),
        F.sum("s3").alias("n_view_click_purchase"),
    ).select(
        "n_view",
        "n_view_click",
        "n_view_click_purchase",
        F.round(F.try_divide(F.col("n_view_click"), F.col("n_view")), 4).alias(
            "cr_click"
        ),
        F.round(
            F.try_divide(F.col("n_view_click_purchase"), F.col("n_view_click")), 4
        ).alias("cr_purchase"),
    )


SQL_FUNNEL = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
),
staged AS (
  SELECT CAST(t_view IS NOT NULL AS INTEGER) AS s1,
         CAST(COALESCE(t_click > t_view, FALSE) AND t_view IS NOT NULL
              AS INTEGER) AS s2,
         CAST(COALESCE(t_purchase > t_click, FALSE)
              AND COALESCE(t_click > t_view, FALSE) AND t_view IS NOT NULL
              AS INTEGER) AS s3
  FROM per_user
)
SELECT CAST(SUM(s1) AS BIGINT) AS n_view,
       CAST(SUM(s2) AS BIGINT) AS n_view_click,
       CAST(SUM(s3) AS BIGINT) AS n_view_click_purchase,
       ROUND(CAST(SUM(s2) AS DOUBLE) / NULLIF(SUM(s1), 0), 4) AS cr_click,
       ROUND(CAST(SUM(s3) AS DOUBLE) / NULLIF(SUM(s2), 0), 4) AS cr_purchase
FROM staged
"""

register(q_funnel, SQL_FUNNEL)


# --------------------------------------------------------------------------
# Rolling anomaly detection (reproducible rolling std)
# --------------------------------------------------------------------------

# Rolling mean/std over the trailing frame, derived from DECIMAL moment sums
# (n, Σx, Σx²) instead of floating accumulators: sliding-frame float
# aggregation is order/implementation-dependent (Spark incrementally
# adds/removes frame edges), decimal sums are exact, so mean/std — and the
# anomaly verdict — are bit-stable across engines and partitionings.
#
# Two portability rules learned the hard way:
# - Σx² is down-cast to DECIMAL(18,4) per row so the window sum's scaled
#   integer stays below 2^53 — above that, decimal→double conversion is
#   engine-dependent at the last ulp.
# - mu/sd are NOT engine-rounded: identical exact decimals → identical
#   doubles → identical IEEE divide/sqrt on both engines.  Engine round()
#   implementations disagree on x.xxxx5 doubles (Spark rounds the
#   shortest decimal repr HALF_UP; DuckDB scales and truncates the raw
#   binary), so rounding is left to the comparison layer.
_FRAME = 20  # trailing window (rows), excludes the current row
_MIN_N = 8  # minimum history before flagging
_SIGMA = 2.0


def q_rolling_anomaly(spark, sf_dir):
    """Per-user rolling anomaly flags: value vs mean±2σ of the previous 20
    events.  One shuffle on user_id; the window frame is rows-based with a
    unique (ts, event_id) order so results are deterministic.

    σ is computed from exact decimal moments — see module comment — the
    pattern to copy whenever a sliding float aggregate must be reproducible.
    """
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_FRAME, -1)
    )
    vdec = F.col("value").cast("decimal(18,4)")
    vsq = (vdec * vdec).cast("decimal(18,4)")
    moments = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.count("value").over(w).alias("n"),
        F.sum(vdec).over(w).alias("s1"),
        F.sum(vsq).over(w).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        moments.filter(F.col("n") >= _MIN_N)
        .select(
            "event_id",
            "user_id",
            "value",
            mu.alias("mu"),
            sd.alias("sd"),
        )
        .filter(F.abs(F.col("value") - F.col("mu")) > _SIGMA * F.col("sd"))
    )


SQL_ROLLING_ANOMALY = f"""
WITH moments AS (
  SELECT event_id, user_id, value,
         COUNT(value) OVER w AS n,
         SUM(CAST(value AS DECIMAL(18,4))) OVER w AS s1,
         SUM(CAST(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))
                  AS DECIMAL(18,4))) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ROWS BETWEEN {_FRAME} PRECEDING AND 1 PRECEDING)
),
stats AS (
  SELECT event_id, user_id, value,
         CAST(s1 AS DOUBLE) / n AS mu,
         SQRT(GREATEST((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1),
               0.0)) AS sd
  FROM moments WHERE n >= {_MIN_N}
)
SELECT event_id, user_id, value, mu, sd
FROM stats WHERE ABS(value - mu) > {_SIGMA} * sd
"""

register(q_rolling_anomaly, SQL_ROLLING_ANOMALY)


# --------------------------------------------------------------------------
# Edit-distance fuzzy matching
# --------------------------------------------------------------------------

_ED_K = 2  # match threshold: r1 shipped k=10, which on the synthetic
           # 5-color-word names matched ~98% of every brand block — a
           # quadratic-size ANSWER no plan can save (r6 registry-wide sf1
           # sweep: 25+ min in one task).  k=2 is the meaningful
           # entity-resolution dial (exact + near-identical names), keeps
           # the output sparse, and lets the banded DP reject most pairs
           # after a 5-cell-wide scan.


def q_edit_distance(spark, sf_dir):
    """Blocked fuzzy matching: part names within a brand block whose
    Levenshtein distance is <= k — the standard entity-resolution shape.
    Candidate generation is the brand equi-join; per-block pairwise is
    inherent to exact edit distance on this corpus (a PassJoin segment
    filter was built and MEASURED in r6: the synthetic 5-color-word names
    make exact segment pieces collide across whole blocks, so its
    candidate volume exceeded the naive join's — 8.6s vs 2.3s at sf0.1;
    low-diversity keys void filter-based candidate schemes, the same
    lesson as the jaccard size filter).  The levers that DO pay here:

    - ``spread`` the probe side — a single-file part table must not
      serialize the whole pairwise stage onto one core;
    - EXACT length prefilter in the join condition: dist <= k forces
      |len(a) − len(b)| <= k, pruned before any DP runs;
    - THRESHOLD Levenshtein ``levenshtein(a, b, k)`` (Spark >= 3.5):
      banded DP that early-exits at cost O(k·min(len)) instead of
      O(len²), returning −1 above the threshold — the returned distance
      for kept rows is the true distance, so output is bit-identical to
      the naive form and the unthresholded DuckDB oracle.
    """
    from .operators.partitioning import spread

    p = spread(_t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name"))
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein("a.p_name", "b.p_name", _ED_K)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(F.length("a.p_name") - F.length("b.p_name"))
                <= F.lit(_ED_K)
            ),
        )
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            dist.alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= _ED_K))
    )


SQL_EDIT_DISTANCE = f"""
SELECT a.p_brand AS brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {_ED_K}
"""

register(q_edit_distance, SQL_EDIT_DISTANCE, bench=False)


# --------------------------------------------------------------------------
# Cohort retention
# --------------------------------------------------------------------------

def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: customers grouped by first-order month,
    counted in each subsequent month they ordered.  Month arithmetic is
    integer (y*12+m) — identical in both engines, no fractional
    months_between.

    Scale shape: first-order month is a min-aggregate on custkey (one
    shuffle), the matrix a second small aggregate; the fact is touched
    twice but only (custkey, month) wide.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("month_idx"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("month_idx").alias("cohort_idx"))
    return (
        o.join(cohort, "o_custkey")
        .groupBy(
            ((F.col("cohort_idx") / 12).cast("int")).alias("cohort_year"),
            (F.col("cohort_idx") % 12 + 1).alias("cohort_month"),
            (F.col("month_idx") - F.col("cohort_idx")).alias("months_since"),
        )
        .agg(F.countDistinct("o_custkey").alias("n_active"))
    )


SQL_COHORT_RETENTION = """
WITH o AS (
  SELECT o_custkey,
         YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS month_idx
  FROM orders
),
cohort AS (
  SELECT o_custkey, MIN(month_idx) AS cohort_idx FROM o GROUP BY o_custkey
)
-- `//`: DuckDB CAST(double AS INTEGER) rounds half-even (Spark truncates) —
-- integer division is the portable spelling of month-index -> year.
SELECT CAST(cohort_idx // 12 AS INTEGER) AS cohort_year,
       cohort_idx % 12 + 1 AS cohort_month,
       month_idx - cohort_idx AS months_since,
       COUNT(DISTINCT o.o_custkey) AS n_active
FROM o JOIN cohort ON o.o_custkey = cohort.o_custkey
GROUP BY 1, 2, 3
"""

register(q_cohort_retention, SQL_COHORT_RETENTION)


# --------------------------------------------------------------------------
# Deterministic stratified sampling
# --------------------------------------------------------------------------

# Per-stratum keep-rates, expressed as an md5-hex prefix threshold: a row is
# kept iff the first 4 hex chars of md5(key) sort below the threshold.
# 0x8000/0x10000 = 50%, 0x4000 = 25%, 0x0ccd ≈ 5%.  md5 hex is bit-identical
# in Spark and DuckDB (and any other engine), so the SAMPLE ITSELF — not
# just its statistics — is reproducible everywhere, unlike rand()-based
# sampling.  This is the sampling you want for training-data splits: stable
# under re-runs, re-partitioning, and engine migration.
_STRATA = {"O": "8000", "F": "4000", "P": "0ccd"}


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sample of orders by status (O 50% / F 25% /
    P 5%) keyed on md5(o_orderkey).  The strata table is a literal
    broadcast; the filter is a pure map — no shuffle, no rand(), fully
    pushdown-friendly at any scale.
    """
    rates = F.create_map(
        *[x for k, v in _STRATA.items() for x in (F.lit(k), F.lit(v))]
    )
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 4),
        )
        .filter(F.col("bucket") < rates[F.col("o_orderstatus")])
        .select("o_orderkey", "o_custkey", "o_orderstatus", "bucket")
    )


SQL_STRATIFIED_SAMPLE = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS bucket
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) <
      CASE o_orderstatus WHEN 'O' THEN '8000' WHEN 'F' THEN '4000'
                         WHEN 'P' THEN '0ccd' END
"""

register(q_stratified_sample, SQL_STRATIFIED_SAMPLE)


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (mergeable partials)
# --------------------------------------------------------------------------

_CUTOFF = "1999-01-01"


def q_incremental_agg(spark, sf_dir):
    """Materialized-aggregate maintenance: the history partition's partial
    aggregate (UNROUNDED decimal sums + counts) merged with the new
    partition's partial, re-aggregated — and the result equals a full
    recompute (the oracle).  This is the month-over-month load pattern the
    reference runs (one month per job run): keep partials per partition,
    merge on load, never rescan history.

    The partial state must be the MERGEABLE form (sum, count — not avg, not
    rounded) — rounding or averaging before the merge breaks associativity.
    """
    o = _t(spark, sf_dir, "orders")
    raw_sum = F.sum(F.col("o_totalprice").cast("decimal(18,4)"))

    def partial(df):
        return df.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count("*").alias("n"), raw_sum.alias("s")
        )

    hist = partial(o.filter(F.col("o_orderdate") < F.lit(_CUTOFF).cast("timestamp")))
    fresh = partial(o.filter(F.col("o_orderdate") >= F.lit(_CUTOFF).cast("timestamp")))
    return (
        hist.unionByName(fresh)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.sum("n").alias("n_orders"), F.sum("s").alias("s_total"))
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "n_orders",
            F.round("s_total", 2).cast("double").alias("sum_price"),
        )
    )


SQL_INCREMENTAL_AGG = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {DSUM_SQL.format(col='o_totalprice')} AS sum_price
FROM orders
GROUP BY o_orderstatus, o_orderpriority
"""

register(q_incremental_agg, SQL_INCREMENTAL_AGG)


# --------------------------------------------------------------------------
# Z-order (Morton) clustering key
# --------------------------------------------------------------------------

_ZBITS = 8


def q_zorder_code(spark, sf_dir):
    """The Z-order clustering key itself, as a query: bucketize
    (o_totalprice, o_custkey) against global min/max and interleave bits
    (operators/layout.morton_code).  Pure integer shift/mask arithmetic —
    the DuckDB oracle runs the identical expression, proving the layout
    key is engine-portable (a cluster written by this engine prunes
    correctly when read by any other).

    ``zorder_layout`` wraps this key with repartitionByRange + sort for
    the write path; clustering quality is asserted in tests/test_layout.py
    via parquet footer stats.
    """
    from .operators.layout import bucketize, morton_code

    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_totalprice").cast("double")).alias("mn1"),
        F.max(F.col("o_totalprice").cast("double")).alias("mx1"),
        F.min(F.col("o_custkey").cast("double")).alias("mn2"),
        F.max(F.col("o_custkey").cast("double")).alias("mx2"),
    )
    nb = 2**_ZBITS
    keyed = o.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        bucketize(F.col("o_totalprice").cast("double"), F.col("mn1"), F.col("mx1"), nb).alias("bx"),
        bucketize(F.col("o_custkey").cast("double"), F.col("mn2"), F.col("mx2"), nb).alias("by"),
    )
    return keyed.select(
        "o_orderkey",
        "bx",
        "by",
        morton_code([F.col("bx"), F.col("by")], _ZBITS).alias("zkey"),
    )


def _interleave_sql(a: str, b: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_BUCKET_SQL = (
    "LEAST(GREATEST(CAST(FLOOR((CAST({c} AS DOUBLE) - {mn}) / ({mx} - {mn})"
    f" * {2**_ZBITS}) AS INTEGER), 0), {2**_ZBITS - 1})"
)

SQL_ZORDER_CODE = f"""
WITH bounds AS (
  SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS mn1,
         MAX(CAST(o_totalprice AS DOUBLE)) AS mx1,
         MIN(CAST(o_custkey AS DOUBLE)) AS mn2,
         MAX(CAST(o_custkey AS DOUBLE)) AS mx2
  FROM orders
),
keyed AS (
  SELECT o_orderkey,
         {_BUCKET_SQL.format(c='o_totalprice', mn='mn1', mx='mx1')} AS bx,
         {_BUCKET_SQL.format(c='o_custkey', mn='mn2', mx='mx2')} AS by
  FROM orders, bounds
)
SELECT o_orderkey, bx, by,
       CAST({_interleave_sql('bx', 'by', _ZBITS)} AS BIGINT) AS zkey
FROM keyed
"""

register(q_zorder_code, SQL_ZORDER_CODE)


# --------------------------------------------------------------------------
# SCD2 point-in-time join
# --------------------------------------------------------------------------

_PIT_DATES = ["2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-22 00:00:00"]


def q_scd2_pit(spark, sf_dir):
    """Point-in-time lookup against the SCD2 history (q_scd2_history's
    output): for each (dim_key, as_of) probe, the attribute version whose
    validity window contains the probe instant — the temporal join every
    Kimball warehouse needs for 'as it was then' reporting.

    Shape: equi-join on the business key + interval-containment residual;
    Spark plans the equi part as a hash/sort-merge join and applies the
    range predicate post-join — no interval explosion, no window rescan.
    """
    from .operators.scd import scd2_history

    # NULL-propagating concat: oracle builds the key with || (review r4)
    ev = _t(spark, sf_dir, "events").withColumn(
        "dim_key",
        F.concat(F.col("user_id").cast("string"), F.lit("|"), "event_type"),
    )
    hist = scd2_history(
        ev, key_col="dim_key", ts_col="ts", attr_cols=["value"],
        tiebreak_col="event_id",
    )
    probes = (
        ev.select("dim_key")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(d,) for d in _PIT_DATES], "as_of_str string"
                ).select(
                    F.col("as_of_str").cast("timestamp_ntz").alias("as_of")
                )
            )
        )
    )
    return probes.join(
        hist,
        (probes.dim_key == hist.dim_key)
        & (hist.valid_from <= probes.as_of)
        & (hist.valid_to.isNull() | (hist.valid_to > probes.as_of)),
    ).select(probes.dim_key, "as_of", "value")


SQL_SCD2_PIT = f"""
WITH hist AS (
  SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS dim_key,
         value, ts AS valid_from, lead(ts) OVER w AS valid_to
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts NULLS FIRST, event_id)
),
probes AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) || '|' || event_type AS dim_key
  FROM events
),
dates AS (
  SELECT CAST(d AS TIMESTAMP) AS as_of
  FROM (VALUES {', '.join(f"('{d}')" for d in _PIT_DATES)}) t(d)
)
SELECT p.dim_key, d.as_of, h.value
FROM probes p CROSS JOIN dates d
JOIN hist h ON h.dim_key = p.dim_key
  AND h.valid_from <= d.as_of
  AND (h.valid_to IS NULL OR h.valid_to > d.as_of)
"""

register(q_scd2_pit, SQL_SCD2_PIT)


# --------------------------------------------------------------------------
# Median + deterministic mode
# --------------------------------------------------------------------------

def q_median_mode(spark, sf_dir):
    """Per-nation median balance (exact interpolated percentile — matches
    DuckDB's quantile_cont bit-for-bit) and the mode market segment with a
    DETERMINISTIC tie-break (highest count, then lexicographically
    smallest value).  Engine-native mode() tie-breaking is unspecified in
    both Spark and DuckDB — argmax over (count, value) is the
    reproducible spelling.
    """
    c = _t(spark, sf_dir, "customer")
    med = c.groupBy("c_nationkey").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("median_bal")
    )
    seg_counts = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("cnt"), F.asc("c_mktsegment")
    )
    mode = (
        seg_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("mode_segment"))
    )
    return med.join(mode, "c_nationkey")


SQL_MEDIAN_MODE = """
WITH med AS (
  SELECT c_nationkey, ROUND(quantile_cont(c_acctbal, 0.5), 4) AS median_bal
  FROM customer GROUP BY c_nationkey
),
seg AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
  FROM customer GROUP BY 1, 2
),
mode AS (
  SELECT c_nationkey, c_mktsegment AS mode_segment
  FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY cnt DESC, c_mktsegment) AS rn
        FROM seg)
  WHERE rn = 1
)
SELECT med.c_nationkey, median_bal, mode_segment
FROM med JOIN mode ON med.c_nationkey = mode.c_nationkey
"""

register(q_median_mode, SQL_MEDIAN_MODE)


# --------------------------------------------------------------------------
# Ad-hoc SQL III: TPC-H Q7 / Q14 / Q19 shapes (dialect-neutral, §3.3)
# --------------------------------------------------------------------------

_REV = (
    "SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))"
)

VOLUME_SHIPPING_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(ROUND({_REV}, 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(l.l_shipdate) AS l_year,
         l.l_extendedprice, l.l_discount
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
      OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20'))
    AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q_sql_volume_shipping(spark, sf_dir):
    """§3.3 ad-hoc SQL: bidirectional two-nation trade volume by year
    (TPC-H Q7 shape) — the fact shuffles once for orders⋈lineitem; both
    nation joins broadcast.  Oracle is the same string."""
    from .sql import register_views, run_sql

    register_views(
        spark, sf_dir,
        tables=("supplier", "lineitem", "orders", "customer", "nation"),
    )
    return run_sql(spark, VOLUME_SHIPPING_SQL)


PROMO_REVENUE_SQL = f"""
SELECT CAST(ROUND(
         100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4))
                             - CAST(l.l_discount AS DECIMAL(18,4)))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,4))
                       - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE),
       4) AS DOUBLE) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


def q_sql_promo_revenue(spark, sf_dir):
    """§3.3 ad-hoc SQL: promo revenue share (TPC-H Q14 shape) — decimal
    sums, one double division at the end.  Oracle is the same string."""
    from .sql import register_views, run_sql

    register_views(spark, sf_dir, tables=("lineitem", "part"))
    return run_sql(spark, PROMO_REVENUE_SQL)


DISCOUNTED_REVENUE_SQL = f"""
SELECT CAST(ROUND({_REV}, 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)
"""


def q_sql_discounted_revenue(spark, sf_dir):
    """§3.3 ad-hoc SQL: disjunctive multi-band predicate revenue (TPC-H
    Q19 shape).  The OR-of-ANDs stays a single scan+join — Catalyst keeps
    the common join key equi (hashable) and evaluates the disjunction as
    a post-join residual.  Oracle is the same string."""
    from .sql import register_views, run_sql

    register_views(spark, sf_dir, tables=("lineitem", "part"))
    return run_sql(spark, DISCOUNTED_REVENUE_SQL)


# --------------------------------------------------------------------------
# Streaming watermark dedup (rows-only: streaming execution)
# --------------------------------------------------------------------------

def q_stream_dedup(spark, sf_dir):
    """Streaming exactly-once-per-key dedup (dropDuplicatesWithinWatermark —
    bounded state, unlike plain streaming dropDuplicates) over the events
    file-stream; output is per-event-type distinct-user counts, which a
    batch countDistinct reproduces — asserted in tests/test_stream_dedup.py
    at the row level AND oracle-checked at the driver gate (the distinct
    count is drain-order independent).
    """
    from .streaming.ingest import dedup_stream, drain, ensure_event_time, stream_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s = ensure_event_time(stream_table(spark, sf_dir, "events"))
    deduped = dedup_stream(
        s, ["user_id", "event_type"], ts_col="ts", watermark="1 hour"
    )
    out = scratch("sg_sdedup_out_") + "/rows"
    drain(deduped, lambda b, _id: b.write.mode("append").parquet(out))
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# dropDuplicatesWithinWatermark keeps ≥1 row per (user, type) and the
# output is a distinct-count — deterministic after the drain, so the batch
# COUNT(DISTINCT) is the oracle
SQL_STREAM_DEDUP = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""
register(q_stream_dedup, SQL_STREAM_DEDUP, bench=False)


# --------------------------------------------------------------------------
# ANN recall instrumentation
# --------------------------------------------------------------------------

def q_ann_recall(spark, sf_dir):
    """Recall@10 of the LSH-bucketed ANN against the exact brute-force
    top-10, per query vector — the quality dial every approximate index
    needs next to its speed claim.  Semi-join of the two result sets, then
    a count ratio; at scale both sides are the (tiny) per-query top-k, so
    the measurement itself is free.

    BOUNDS oracle (VERDICT r3 item 7): the xxhash64 LSH bucketing isn't
    SQL-expressible, so instead of the raw recall (exact dial lives in
    q_ann_recall_oracle, seed-replay lane) this emits a per-query verdict
    ``recall_ok`` = recall@10 ≥ 0.6.  (4 planes, 16 tables) on the
    near-uniform synthetic embeddings gives ~0.9 recall in theory
    (1-(1-p^4)^16, per-bit p≈0.6); measured min across sf0.001/0.01/0.1
    is 0.8, so 0.6 fails only if the index genuinely breaks (a broken
    banding collapses recall to ~0.1-0.3)."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=10).select(
        "query_id", "vec_id"
    )
    approx = similarity.lsh_ann_topk(
        emb, queries, k=10, num_planes=4, num_tables=16
    ).select("query_id", "vec_id", F.lit(1).alias("__hit"))
    # left join (not semi) so a zero-recall query still reports its row
    return (
        exact.join(approx, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            (F.col("n_hits") / F.col("n_exact") >= 0.6).alias("recall_ok"),
        )
    )


SQL_ANN_RECALL_BOUNDS = """
SELECT CAST(v AS BIGINT) AS query_id,
       CAST(10 AS BIGINT) AS n_exact,
       TRUE AS recall_ok
FROM (VALUES (0), (1), (2)) t(v)
"""

register(q_ann_recall, SQL_ANN_RECALL_BOUNDS, bench=False)


# --------------------------------------------------------------------------
# Bigram statistics
# --------------------------------------------------------------------------

def q_bigram_topk(spark, sf_dir):
    """Corpus bigram counts, top-20 (deterministic tiebreak) — the n-gram
    statistics pass of LM data prep.  Bigrams are built JVM-side by
    zipping the token array with itself shifted one (arrays_zip over
    slices — no UDF, no explode-then-self-join), then ONE aggregation.
    """
    from .operators import text

    d = _t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    return (
        d.select(F.explode(pairs).alias("p"))
        .select(F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


SQL_BIGRAM_TOPK = f"""
WITH toks AS (
  SELECT {TOKS_SQL.format(c='text')} AS t FROM documents
),
bigrams AS (
  SELECT unnest(list_transform(
           list_zip(t[1:len(t)-1], t[2:len(t)]),
           p -> p[1] || ' ' || p[2])) AS bigram
  FROM toks
)
SELECT bigram, COUNT(*) AS n
FROM bigrams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
"""

register(q_bigram_topk, SQL_BIGRAM_TOPK)

register(q_sql_volume_shipping, VOLUME_SHIPPING_SQL)
register(q_sql_promo_revenue, PROMO_REVENUE_SQL, bench=False)
register(q_sql_discounted_revenue, DISCOUNTED_REVENUE_SQL, bench=False)
