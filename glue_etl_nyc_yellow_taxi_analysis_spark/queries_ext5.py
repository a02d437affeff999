"""Extension batch V — remaining source/sink surfaces + numeric/graph ops.

Fifth widening batch: plain-text source/sink roundtrip (the log-file
ingest path), CSV sink/source roundtrip with quoting (the reference's
lookup format, now write-side too: cf. DM:220-228 CSV scan), a
whole-stage-codegen math battery (trig/log/exp/power over derived
coordinates), a time-interval RANGE window frame (trailing 1-hour state
per event), dynamic pivot (distinct-value discovery instead of the
explicit value list of q_pivot_status), a custom stateful streaming
query (applyInPandasWithState — the §2.8 escape hatch, declared), and
iterative PageRank over the event-type transition graph (the graph twin
of q_kmeans_train's iterative pattern).

Cross-engine determinism: math results are rounded PER ROW to 6 decimals
then summed as exact decimals (a raw double sum would be partial-order
dependent); roundtrips recompute integer/string aggregates only; the
RANGE frame orders by integer epoch seconds identical in both engines.

Reference anchor: SURVEY §2.1 (S1-S10 source/sink inventory), §2.8
(streaming surface), §2.9 extensions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .paths import scratch
from .registry import register
from .tables import _t


# --------------------------------------------------------------------------
# Plain-text source/sink roundtrip
# --------------------------------------------------------------------------

def q_text_roundtrip(spark, sf_dir):
    """Log-line text sink + source roundtrip: serialize events as
    pipe-delimited lines (``df.write.text``), read them back with the
    line-oriented text source, re-parse with split/cast, and aggregate.

    The aggregate (counts, id sums, distinct users — exact integers) must
    equal the same aggregate on the original table, which is the oracle.
    Scale shape: text write/read is narrow (no shuffle); the parse is
    whole-stage codegen (split + element_at + cast, no UDF).
    """
    ev = _t(spark, sf_dir, "events")
    out = scratch("sg_text_rt_") + "/lines"
    # NULL fields serialize as EXPLICIT empty strings: concat_ws SKIPS
    # nulls, which would shift the pipe positions so the parse reads
    # 'view' as a long (ANSI crash) where the oracle just aggregates the
    # NULL (review r4).  try_cast parses '' back to NULL.
    ev.select(
        F.concat_ws(
            "|",
            F.coalesce(F.col("event_id").cast("string"), F.lit("")),
            F.coalesce(F.col("user_id").cast("string"), F.lit("")),
            F.coalesce("event_type", F.lit("")),
        ).alias("value")
    ).write.mode("overwrite").text(out)

    lines = spark.read.text(out)
    parsed = lines.select(
        F.split("value", "\\|", -1).alias("f")
    ).select(
        F.expr("try_cast(element_at(f, 1) AS LONG)").alias("event_id"),
        F.expr("try_cast(element_at(f, 2) AS LONG)").alias("user_id"),
        F.nullif(F.element_at("f", 3), F.lit("")).alias("event_type"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_id"),
        F.countDistinct("user_id").alias("n_users"),
    )


SQL_TEXT_ROUNDTRIP = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""

register(q_text_roundtrip, SQL_TEXT_ROUNDTRIP, bench=False)


# --------------------------------------------------------------------------
# CSV sink/source roundtrip with quoting
# --------------------------------------------------------------------------

def q_csv_roundtrip(spark, sf_dir):
    """CSV write + schema-on-read roundtrip (the reference's lookup format,
    DM:220-228, exercised on the write side too): documents out as quoted
    CSV with header, back in with an explicit schema, then per-source text
    integrity aggregates (recomputed char lengths must survive quoting).
    """
    docs = _t(spark, sf_dir, "documents")
    out = scratch("sg_csv_rt_") + "/docs"
    docs.select("doc_id", "text", "lang", "source").write.mode(
        "overwrite"
    ).option("header", True).option("quoteAll", True).csv(out)

    # multiLine: a quoted text field containing '\n' is ONE record on the
    # write side; without the option the reader shreds it into garbage
    # rows that silently diverge from the source-table oracle (review r4)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema("doc_id long, text string, lang string, source string")
        .csv(out)
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_CSV_ROUNDTRIP = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT lang) AS n_langs,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents
GROUP BY source
"""

register(q_csv_roundtrip, SQL_CSV_ROUNDTRIP, bench=False)


# --------------------------------------------------------------------------
# Math battery — trig/log/exp/power, codegen-side
# --------------------------------------------------------------------------

def q_math_battery(spark, sf_dir):
    """Scalar math battery: haversine distance between coordinates derived
    from ids, plus ln/exp/sqrt/power/atan2 — all JVM codegen built-ins.

    Determinism: every double result is rounded to 6 decimals PER ROW and
    summed as an exact decimal — a raw double sum would depend on partial
    aggregation order; libm-vs-StrictMath differences live ~10 ulps below
    the rounding cut.
    """
    ev = _t(spark, sf_dir, "events")
    lat1 = F.radians((F.col("user_id") % 180) - 90)
    lon1 = F.radians((F.col("event_id") % 360) - 180)
    lat2 = F.radians(((F.col("user_id") * 7) % 180) - 90)
    lon2 = F.radians(((F.col("event_id") * 13) % 360) - 180)
    a = (
        F.pow(F.sin((lat2 - lat1) / 2), 2)
        + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin((lon2 - lon1) / 2), 2)
    )
    hav_km = 6371.0 * 2 * F.atan2(F.sqrt(a), F.sqrt(1 - a))
    mix = (
        F.log(F.col("value") + 1.0)
        + F.exp(-F.col("value") / 100.0)
        + F.pow(F.col("value"), 0.5)
    )
    per_row = ev.select(
        "event_type",
        F.round(hav_km, 6).cast("decimal(18,6)").alias("hav"),
        F.round(mix, 6).cast("decimal(18,6)").alias("mix"),
    )
    return per_row.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("hav"), 4).cast("double").alias("sum_hav_km"),
        F.round(F.sum("mix"), 4).cast("double").alias("sum_mix"),
    )


SQL_MATH_BATTERY = """
WITH c AS (
  SELECT event_type,
         radians((user_id % 180) - 90)        AS lat1,
         radians((event_id % 360) - 180)      AS lon1,
         radians(((user_id * 7) % 180) - 90)  AS lat2,
         radians(((event_id * 13) % 360) - 180) AS lon2,
         value
  FROM events
),
per_row AS (
  SELECT event_type,
         CAST(ROUND(6371.0 * 2 * atan2(
             sqrt(power(sin((lat2 - lat1) / 2), 2)
                  + cos(lat1) * cos(lat2)
                    * power(sin((lon2 - lon1) / 2), 2)),
             sqrt(1 - (power(sin((lat2 - lat1) / 2), 2)
                  + cos(lat1) * cos(lat2)
                    * power(sin((lon2 - lon1) / 2), 2)))), 6)
           AS DECIMAL(18,6)) AS hav,
         CAST(ROUND(ln(value + 1.0) + exp(-value / 100.0)
                    + power(value, 0.5), 6) AS DECIMAL(18,6)) AS mix
  FROM c
)
SELECT event_type, COUNT(*) AS n,
       CAST(ROUND(SUM(hav), 4) AS DOUBLE) AS sum_hav_km,
       CAST(ROUND(SUM(mix), 4) AS DOUBLE) AS sum_mix
FROM per_row
GROUP BY event_type
"""

register(q_math_battery, SQL_MATH_BATTERY)


# --------------------------------------------------------------------------
# Time-interval RANGE window frame
# --------------------------------------------------------------------------

def q_trailing_window_range(spark, sf_dir):
    """Trailing 1-hour per-user state via a RANGE window frame over integer
    epoch seconds: for every event, how many events and how much value the
    user produced in the preceding hour (inclusive).

    RANGE (not ROWS) semantics: all peers at the same instant join the
    frame, so duplicate timestamps cannot make the result order-dependent.
    Scale shape: one shuffle on user_id; the frame is evaluated with a
    sliding aggregate over the sorted run, not a self-join.
    """
    ev = _t(spark, sf_dir, "events")
    epoch_s = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            epoch_s.alias("epoch_s"),
            F.col("value").cast("decimal(18,4)").alias("v"),
        )
        .select(
            "event_id",
            "user_id",
            F.count("*").over(w).alias("trailing_n"),
            F.round(F.sum("v").over(w), 2).cast("double").alias("trailing_value"),
        )
    )


SQL_TRAILING_WINDOW_RANGE = """
WITH e AS (
  SELECT event_id, user_id,
         datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS epoch_s,
         CAST(value AS DECIMAL(18,4)) AS v
  FROM events
)
SELECT event_id, user_id,
       COUNT(*) OVER w AS trailing_n,
       CAST(ROUND(SUM(v) OVER w, 2) AS DOUBLE) AS trailing_value
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

register(q_trailing_window_range, SQL_TRAILING_WINDOW_RANGE)


# --------------------------------------------------------------------------
# Dynamic pivot (distinct-value discovery)
# --------------------------------------------------------------------------

def q_pivot_dynamic(spark, sf_dir):
    """Pivot WITHOUT an explicit value list: Spark runs a distinct pass on
    the pivot column, sorts the discovered values into columns (two-job
    plan — the price of dynamism; q_pivot_status is the one-job explicit
    twin).  Per-user event counts by type, nulls densified to 0.

    NULL pivot values are filtered on BOTH sides: a NULL event_type
    would otherwise become a Spark 'null' column with no oracle
    counterpart.  The oracle is necessarily pinned to the discovered
    value set of the gate fixture — that is the declared contract of a
    DYNAMIC pivot (its schema follows the data); slices with other
    event-type sets diverge from this fixed oracle by design.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    return (
        ev.groupBy("user_id")
        .pivot("event_type")
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


SQL_PIVOT_DYNAMIC = """
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS view
FROM events
WHERE event_type IS NOT NULL
GROUP BY user_id
"""

register(q_pivot_dynamic, SQL_PIVOT_DYNAMIC)


# --------------------------------------------------------------------------
# Custom stateful streaming (applyInPandasWithState), declared
# --------------------------------------------------------------------------

def q_stream_stateful(spark, sf_dir):
    """Custom stateful streaming operator declared as a query: per-user
    running (count, total) maintained in the state store across
    micro-batches via applyInPandasWithState (SURVEY §2.8 — the escape
    hatch for state machines Spark's windowed aggs can't express).

    availableNow over the events file; update-mode emits the post-batch
    totals per key, the last emission per user is the final state.
    Rows-only: streaming execution + Python state has no SQL oracle; the
    batch twin equality is asserted in tests/test_bucketing_stateful.py.
    """
    from .streaming.ingest import (
        drain,
        ensure_event_time,
        stateful_user_totals,
        stream_table,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = ensure_event_time(stream_table(spark, sf_dir, "events"))
    out = scratch("sg_sstate_out_") + "/rows"
    drain(
        stateful_user_totals(events),
        lambda b, bid: b.withColumn("batch_id", F.lit(bid))
        .write.mode("append")
        .parquet(out),
        "update",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        spark.read.parquet(out)
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("user_id", "n_events", "total_value")
    )


# the state accumulates integer ten-thousandths (floor(v*10000 + 0.5) per
# row — bit-identical IEEE ops in numpy and SQL), so the final per-user
# state is exactly the batch rollup: a hash-checked proof that the custom
# state machine accumulated correctly across micro-batches
SQL_STREAM_STATEFUL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 10000.0 AS total_value
FROM events
GROUP BY user_id
"""
register(q_stream_stateful, SQL_STREAM_STATEFUL, bench=False)


# --------------------------------------------------------------------------
# Iterative PageRank on the event-type transition graph
# --------------------------------------------------------------------------

def q_pagerank(spark, sf_dir):
    """PageRank over the event-type transition graph (nodes = event types,
    edge weights = row-normalized transition counts from the Markov pairs)
    — the graph twin of q_kmeans_train's iterative driver-loop pattern.

    Exact decimal arithmetic end to end (ranks and edge weights as
    decimals), so the fixpoint is bit-deterministic under any partitioning
    — the usual double-sum nondeterminism of distributed PageRank is
    engineered out, which is what makes the pytest oracle exact.
    Rows-only: 20 iterations of join+agg are not one SQL statement.
    Scale shape: each iteration is one broadcast join (ranks are |V|
    rows) + one shuffle on dst; the edge table stays partitioned once.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("src", F.lag("event_type").over(w))
        .filter(F.col("src").isNotNull())
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("n"))
    )
    w_src = Window.partitionBy("src")
    # one exact double division per edge (long/long — a single correctly-
    # rounded op, deterministic), then fixed-scale decimal: Spark's decimal
    # division would truncate to a data-dependent scale (as low as 6) under
    # allowPrecisionLoss and cost ~1e-6 per iteration
    edges = pairs.select(
        "src",
        "dst",
        (F.col("n") / F.sum("n").over(w_src)).cast("decimal(20,18)").alias("wt"),
    ).cache()
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select("dst")
    ).distinct().cache()
    n_nodes = nodes.count()
    if n_nodes == 0:
        # no transition pairs at all (≤1 event per user): an empty graph
        # ranks nothing — empty result, not a driver ZeroDivisionError
        # (degenerate-corpus sweep finding)
        return nodes.select(
            "node", F.lit(0.0).alias("pagerank")
        ).where(F.lit(False))
    # literals sized tightly: a wide damping decimal would push the
    # (damping × contribution) product past precision 38 and Spark would
    # truncate the result to scale 7 (~1e-6/iteration error); DECIMAL(3,2)
    # keeps the truncation at scale 16
    base = repr(0.15 / n_nodes)
    ranks = nodes.select(
        "node",
        F.lit(1.0 / n_nodes).cast("decimal(20,18)").alias("rank"),
    )
    for _ in range(20):
        contribs = (
            edges.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.expr("CAST(wt * rank AS DECIMAL(20,18))")).alias("c"))
        )
        ranks = (
            nodes.join(
                F.broadcast(contribs.withColumnRenamed("dst", "node")),
                "node",
                "left",
            )
            .select(
                "node",
                F.expr(
                    f"CAST(CAST({base} AS DECIMAL(20,18))"
                    " + CAST(0.85 AS DECIMAL(3,2))"
                    " * coalesce(c, CAST(0 AS DECIMAL(20,18)))"
                    " AS DECIMAL(20,18))"
                ).alias("rank"),
            )
        )
    return ranks.select(
        "node", F.round(F.col("rank").cast("double"), 8).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# q_pagerank oracle: a GENERATED 20-iteration chained-CTE replay.
#
# The Spark implementation is engineered to be bit-deterministic (decimal
# lanes everywhere), which makes even this iterative algorithm externally
# verifiable — the oracle replays Spark's exact decimal semantics:
# - double -> DECIMAL(20,18) goes through the shortest double repr in both
#   engines (Spark BigDecimal.valueOf == DuckDB CAST(dbl AS VARCHAR));
# - Spark's DECIMAL(20,18)*DECIMAL(20,18) is the exact 36-scale product
#   rounded HALF_UP to its (38,33) result type, then HALF_UP again on the
#   CAST to (20,18).  DuckDB's decimal downcast TRUNCATES, so HALF_UP is
#   emulated by adding half an ulp of the target scale before the cast;
# - per-iteration CTEs are MATERIALIZED (inlined CTEs re-evaluate the
#   whole upstream chain per reference - measured 64s -> 0.1s).
# Verified equal to the Spark output at sf0.001 and sf0.01.


HALF33 = "CAST('0.000000000000000000000000000000000500' AS DECIMAL(37,36))"
HALF18_FROM33 = "CAST('0.000000000000000000500000000000000' AS DECIMAL(34,33))"
HALF18_FROM20 = "CAST('0.00000000000000000050' AS DECIMAL(21,20))"


def prod18(wt, rank):
    """Spark CAST(wt*rank AS DECIMAL(20,18)): exact 36-scale product,
    HALF_UP to 33 (Spark's (38,33) product type), HALF_UP to 18."""
    p36 = f"(CAST({wt} AS DECIMAL(19,18)) * CAST({rank} AS DECIMAL(19,18)))"
    p33 = f"CAST(CAST({p36} AS DECIMAL(37,36)) + {HALF33} AS DECIMAL(38,33))"
    return f"CAST(CAST({p33} AS DECIMAL(37,33)) + {HALF18_FROM33} AS DECIMAL(20,18))"


def build_pagerank_oracle_sql(iters=20):
    rank_update = (
        "CAST(CAST(CAST(b.base AS DECIMAL(22,20)) + "
        "CAST(CAST(COALESCE(c.c, CAST(0 AS DECIMAL(20,18))) AS DECIMAL(35,18))"
        " * CAST(0.85 AS DECIMAL(3,2)) AS DECIMAL(24,20))"
        f" AS DECIMAL(24,20)) + {HALF18_FROM20} AS DECIMAL(20,18))"
    )
    parts = [f"""
WITH pairs AS MATERIALIZED (
  SELECT src, event_type AS dst, COUNT(*) AS n FROM (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS src
    FROM events)
  WHERE src IS NOT NULL GROUP BY src, event_type
), edges AS MATERIALIZED (
  SELECT src, dst,
         CAST(CAST(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS VARCHAR)
              AS DECIMAL(20,18)) AS wt
  FROM pairs
), nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), consts AS MATERIALIZED (
  SELECT CAST(CAST(CAST(0.15 AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(20,18)) AS base,
         CAST(CAST(CAST(1.0 AS DOUBLE) / COUNT(*) AS VARCHAR) AS DECIMAL(20,18)) AS r0
  FROM nodes
), rank0 AS (
  SELECT node, (SELECT r0 FROM consts) AS rank FROM nodes
)"""]
    for i in range(1, iters + 1):
        parts.append(f""", contrib{i} AS MATERIALIZED (
  SELECT e.dst, SUM({prod18('e.wt', f'r.rank')}) AS c
  FROM edges e JOIN rank{i-1} r ON e.src = r.node
  GROUP BY e.dst
), rank{i} AS MATERIALIZED (
  SELECT n.node, {rank_update} AS rank
  FROM nodes n LEFT JOIN contrib{i} c ON n.node = c.dst, consts b
)""")
    parts.append(f"""
SELECT node, ROUND(CAST(rank AS DOUBLE), 8) AS pagerank FROM rank{iters}
""")
    return "".join(parts)


register(q_pagerank, build_pagerank_oracle_sql(), bench=False)
