"""Extended inventory XVII — privacy audit + streaming curation.

- ``q_kanonymity`` — k-anonymity audit of a quasi-identifier set with a
  generalization ladder: the pre-release privacy gate a training-data
  pipeline runs before publishing user-derived tables.
- ``q_stream_quality_filter`` — the quality classifier running INSIDE
  Structured Streaming (file-source backlog, availableNow), proving the
  curation operators compose with the streaming surface; oracle =
  batch-equivalence (the windowless aggregate is stream/batch identical).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .registry import register
from .tables import TOKS_SQL, _t


# --------------------------------------------------------------------------
# k-anonymity audit with a generalization ladder
# --------------------------------------------------------------------------

_KA_K = 5
_KA_BAND = 2000  # acctbal generalization band width


def q_kanonymity(spark, sf_dir):
    """k-anonymity audit (k=5) over the customer quasi-identifier set
    (nation, market segment, account-balance band) with a 3-level
    generalization ladder: level 0 keeps all three QIs, level 1 drops the
    balance band, level 2 keeps nation only.  Per level: group count,
    groups smaller than k, and re-identifiable rows (rows in small
    groups) — the monotone risk-reduction table a release pipeline uses
    to pick its generalization level.  Each level is one keyed aggregate
    over group COUNTS (the small per-level rollup re-aggregates the
    level-0 group table, never rescans the fact); all-integer output.
    Band boundaries are exact-double multiples of 2000, so floor-division
    banding is bit-stable across engines."""
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _KA_BAND).cast("int").alias("bal_band"),
    )

    def level(df, keys, lvl):
        groups = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
        return groups.agg(
            F.lit(lvl).alias("level"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("cnt") < _KA_K, 1).otherwise(0)).alias(
                "n_small_groups"
            ),
            F.sum(F.when(F.col("cnt") < _KA_K, F.col("cnt")).otherwise(0)).alias(
                "n_risk_rows"
            ),
        )

    return (
        level(base, ["c_nationkey", "c_mktsegment", "bal_band"], 0)
        .unionByName(level(base, ["c_nationkey", "c_mktsegment"], 1))
        .unionByName(level(base, ["c_nationkey"], 2))
    )


SQL_KANONYMITY = f"""
WITH base AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / {_KA_BAND}) AS INTEGER) AS bal_band
  FROM customer
), g0 AS (
  SELECT COUNT(*) AS cnt FROM base
  GROUP BY c_nationkey, c_mktsegment, bal_band
), g1 AS (
  SELECT COUNT(*) AS cnt FROM base GROUP BY c_nationkey, c_mktsegment
), g2 AS (
  SELECT COUNT(*) AS cnt FROM base GROUP BY c_nationkey
)
SELECT 0 AS level, COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN cnt < {_KA_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_small_groups,
       CAST(SUM(CASE WHEN cnt < {_KA_K} THEN cnt ELSE 0 END) AS BIGINT)
           AS n_risk_rows
FROM g0
UNION ALL
SELECT 1, COUNT(*),
       CAST(SUM(CASE WHEN cnt < {_KA_K} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN cnt < {_KA_K} THEN cnt ELSE 0 END) AS BIGINT)
FROM g1
UNION ALL
SELECT 2, COUNT(*),
       CAST(SUM(CASE WHEN cnt < {_KA_K} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN cnt < {_KA_K} THEN cnt ELSE 0 END) AS BIGINT)
FROM g2
"""

register(q_kanonymity, SQL_KANONYMITY)


# --------------------------------------------------------------------------
# Streaming quality filter — curation composed with Structured Streaming
# --------------------------------------------------------------------------

def q_stream_quality_filter(spark, sf_dir):
    """The q_quality_classifier logit lane running as a Structured
    Streaming pipeline: documents arrive as a file-source backlog
    (availableNow = the reference's Lambda-per-file loop), per-doc
    features and the centi-integer logit are computed in the stream, and
    a complete-mode per-source rollup (docs, kept docs, summed logit)
    drains to a memory sink.  The aggregate is windowless and
    integer-only, so stream/batch equivalence is exact — the oracle is
    the batch SQL.  At scale this is the admission-control topology:
    score-on-arrival, keep-rate observability per source, no second
    pass over the corpus."""
    from .streaming.ingest import drain, stream_table

    stream = stream_table(spark, sf_dir, "documents")

    toks = text.tokens("text")
    sw = F.array(*[F.lit(s) for s in _QF_STOPWORDS])
    feats = stream.select(
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias(
            "n_stop"
        ),
        F.size(F.array_distinct(toks)).alias("n_types"),
    )
    logit = (
        F.lit(-300)
        + 2 * F.col("n_tok")
        + 25 * F.col("n_stop")
        + 8 * F.col("n_types")
    )
    scored = feats.select(
        "source",
        logit.cast("bigint").alias("logit_centi"),
        F.when(logit > 0, 1).otherwise(0).alias("keep"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_keep"),
        F.sum("logit_centi").alias("sum_logit_centi"),
    )
    return drain(agg, "sg_stream_quality", "complete")


_QF_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_QF_SW_SQL = "[" + ", ".join(f"'{s}'" for s in _QF_STOPWORDS) + "]"

SQL_STREAM_QUALITY_FILTER = f"""
WITH f AS (
  SELECT source,
         len(toks) AS n_tok,
         len(list_filter(toks, x -> list_contains({_QF_SW_SQL}, x))) AS n_stop,
         len(list_distinct(toks)) AS n_types
  FROM (SELECT source, {TOKS_SQL.format(c='text')} AS toks FROM documents)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN -300 + 2 * n_tok + 25 * n_stop + 8 * n_types > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(-300 + 2 * n_tok + 25 * n_stop + 8 * n_types) AS BIGINT)
           AS sum_logit_centi
FROM f
GROUP BY source
"""

register(q_stream_quality_filter, SQL_STREAM_QUALITY_FILTER)
