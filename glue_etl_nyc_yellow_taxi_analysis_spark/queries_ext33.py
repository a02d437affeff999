"""Extended inventory XXXIII — ranking-quality metrics (round 6,
seventh batch): NDCG@k and MRR complete the IR-eval family
(recall@k ✓ q_ann_recall, tau ✓ q_rank_correlation, AUC ✓
q_quality_auc; the graded-ranking and first-hit metrics were the gap).

- ``q_ndcg_at_k``: exact graded NDCG@10 per query over a fixed 5-query
  term set.  Candidates = docs matching ≥1 query term (the retrieval
  convention — a zero-match doc can never be retrieved); scorer =
  total query-term occurrences (tf_sum desc, doc_id tiebreak); grade
  rel = distinct query terms present; gain = 2^rel − 1.  The log2
  discounts are PRE-COMPUTED INTEGER LITERALS (round(1e9/log2(i+1)),
  computed once in Python and embedded in BOTH engines), so DCG/IDCG
  are exact integer dot products — no runtime libm anywhere, the
  q_benford rule.  The top-k cut is ``row_number ≤ k`` over the
  per-query candidate pool, which Spark ≥3.5 executes with
  **WindowGroupLimit** (partial per-task top-k BEFORE the shuffle —
  pinned by the plan test): each task ships at most k rows per query,
  so the window is scale-safe even when one query matches the whole
  corpus.
- ``q_mrr``: mean-reciprocal-rank shape WITHOUT any window — the rank
  of the first fully-relevant doc (contains ALL query terms) is
  computed by the count formula: rank = 1 + |{better (tf_sum, doc_id)
  candidates}|, with the per-query best row found by
  ``min(struct(-tf_sum, doc_id))`` (one keyed aggregate) and broadcast
  back.  Queries with no fully-relevant doc emit rr_e6 = 0 (standard
  MRR), never a dropped row.

Scale posture: both lanes shuffle only on (doc_id, token) and
(query_id, doc_id) keys; the query set is a 13-row broadcast; NDCG's
only ordered pass is group-limited to k rows per task pre-shuffle; MRR
has no ordered pass at all.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import text
from .registry import register
from .tables import TOKS_SQL, _t


_EVAL_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q1", ("spark", "join", "fast")),
    ("q2", ("window", "sort", "scan")),
    ("q3", ("dup", "merge")),
    ("q4", ("stream", "batch", "key")),
    # one term the corpus never carries: the grade ceiling is then 1,
    # so q5 can have candidates but no fully-relevant doc (MRR 0 lane)
    ("q5", ("agg", "zzznever")),
)
_NDCG_K = 10
# round(1e9 / log2(i+1)) for ranks 1..k — computed ONCE here and
# embedded as the same integer literals in the Spark expression and the
# DuckDB SQL, so no engine evaluates log2 at query time
_DISC_E9: tuple[int, ...] = tuple(
    round(1e9 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)
)
_DISC_ARR = ", ".join(str(d) for d in _DISC_E9)
_QT_ROWS = [
    (qid, t) for qid, terms in _EVAL_QUERIES for t in terms
]
_QT_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _QT_ROWS)


def _candidates(spark, d):
    """(query_id, doc_id, tf_sum, rel, nt) — per query-doc: total
    query-term occurrences, distinct terms present, and the query's
    term count.  One (doc_id, token) shuffle + one (query_id, doc_id)
    aggregate; the 13-row query-term table is broadcast."""
    qt = spark.createDataFrame(_QT_ROWS, "query_id string, term string")
    nt = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("nt"))
    tf = (
        d.select("doc_id", F.explode(text.tokens("text")).alias("token"))
        .join(F.broadcast(qt), F.col("token") == F.col("term"))
        .groupBy("query_id", "doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tf.groupBy("query_id", "doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("tf_sum"),
            F.count(F.lit(1)).cast("bigint").alias("rel"),
        )
        .join(F.broadcast(nt), "query_id")
    )


def q_ndcg_at_k(spark, sf_dir):
    """Graded NDCG@10 of the term-frequency scorer (see module
    docstring).  dcg_e9 = Σ gain·disc[rank]; idcg_e9 = the same dot
    product over the gain-ideal ordering of the SAME candidate pool;
    ndcg_e6 = dcg_e9·1e6 div idcg_e9.  idcg > 0 whenever a query has
    any candidate (every candidate's gain ≥ 1), and queries without
    candidates emit no row on both engines."""
    cand = _candidates(spark, _t(spark, sf_dir, "documents")).withColumn(
        "gain", F.expr("cast(shiftleft(1, cast(rel as int)) - 1 as bigint)")
    )
    w_score = Window.partitionBy("query_id").orderBy(
        F.desc("tf_sum"), "doc_id"
    )
    w_ideal = Window.partitionBy("query_id").orderBy(F.desc("gain"), "doc_id")

    def dot(wnd, out):
        return (
            cand.withColumn("rn", F.row_number().over(wnd))
            .where(F.col("rn") <= _NDCG_K)
            .groupBy("query_id")
            .agg(
                F.sum(
                    F.col("gain")
                    * F.expr(
                        f"element_at(array({_DISC_ARR}), cast(rn as int))"
                    )
                )
                .cast("bigint")
                .alias(out)
            )
        )

    n_cand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand")
    )
    return (
        n_cand.join(dot(w_score, "dcg_e9"), "query_id")
        .join(dot(w_ideal, "idcg_e9"), "query_id")
        .select(
            "query_id",
            "n_cand",
            "dcg_e9",
            "idcg_e9",
            F.expr("dcg_e9 * 1000000 div idcg_e9").cast("bigint").alias(
                "ndcg_e6"
            ),
        )
    )


_CAND_SQL = f"""
qt(query_id, term) AS (VALUES {_QT_VALUES}),
nt AS (SELECT query_id, COUNT(*) AS nt FROM qt GROUP BY query_id),
tf AS (
  SELECT query_id, doc_id, term, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({TOKS_SQL.format(c='text')}) AS token
        FROM documents) tok
  JOIN qt ON tok.token = qt.term
  GROUP BY query_id, doc_id, term
),
cand AS (
  SELECT tf.query_id, doc_id,
         CAST(SUM(c) AS BIGINT) AS tf_sum,
         CAST(COUNT(*) AS BIGINT) AS rel, nt.nt
  FROM tf JOIN nt ON nt.query_id = tf.query_id
  GROUP BY tf.query_id, doc_id, nt.nt
)"""

SQL_NDCG_AT_K = f"""
WITH {_CAND_SQL}, g AS (
  SELECT query_id, doc_id, tf_sum,
         CAST((1 << rel) - 1 AS BIGINT) AS gain
  FROM cand
), ranked AS (
  SELECT query_id, gain,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY tf_sum DESC, doc_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY gain DESC, doc_id) AS ri
  FROM g
), dcg AS (
  SELECT query_id, CAST(SUM(gain * ([{_DISC_ARR}])[rn]) AS BIGINT) AS dcg_e9
  FROM ranked WHERE rn <= {_NDCG_K} GROUP BY query_id
), idcg AS (
  SELECT query_id, CAST(SUM(gain * ([{_DISC_ARR}])[ri]) AS BIGINT) AS idcg_e9
  FROM ranked WHERE ri <= {_NDCG_K} GROUP BY query_id
), nc AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_cand FROM g GROUP BY query_id
)
SELECT nc.query_id, nc.n_cand, dcg.dcg_e9, idcg.idcg_e9,
       CAST(dcg.dcg_e9 * 1000000 // idcg.idcg_e9 AS BIGINT) AS ndcg_e6
FROM nc JOIN dcg ON dcg.query_id = nc.query_id
        JOIN idcg ON idcg.query_id = nc.query_id
"""

register(q_ndcg_at_k, SQL_NDCG_AT_K)


# ---------------------------------------------------------------------------
# q_mrr — reciprocal rank of the first fully-relevant doc, no window
# ---------------------------------------------------------------------------

def q_mrr(spark, sf_dir):
    """Per-query rank of the first doc containing ALL query terms under
    the tf_sum scorer, via the count formula (module docstring): no
    window anywhere — one keyed aggregate finds the best relevant row
    as min(struct(-tf_sum, doc_id)), a ≤5-row broadcast carries it
    back, and a count of strictly-better candidates yields the rank.
    Zero-match docs score tf_sum = 0 < any candidate's, so restricting
    the count to candidates is exact.  Queries with no fully-relevant
    doc emit first_rank NULL / rr_e6 = 0."""
    cand = _candidates(spark, _t(spark, sf_dir, "documents"))
    best = (
        cand.where(F.col("rel") == F.col("nt"))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_relevant"),
            F.min(
                F.struct(
                    (-F.col("tf_sum")).alias("ns"), F.col("doc_id").alias("d")
                )
            ).alias("b"),
        )
        .select(
            "query_id",
            "n_relevant",
            (-F.col("b.ns")).alias("s"),
            F.col("b.d").alias("d"),
        )
    )
    ranked = (
        cand.join(F.broadcast(best), "query_id")
        .groupBy("query_id")
        .agg(
            F.min("n_relevant").alias("n_relevant"),
            (
                F.lit(1)
                + F.sum(
                    (
                        (F.col("tf_sum") > F.col("s"))
                        | (
                            (F.col("tf_sum") == F.col("s"))
                            & (F.col("doc_id") < F.col("d"))
                        )
                    ).cast("bigint")
                )
            )
            .cast("bigint")
            .alias("first_rank"),
        )
    )
    qids = spark.createDataFrame(
        [(q,) for q, _ in _EVAL_QUERIES], "query_id string"
    )
    return (
        qids.join(ranked, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0)).cast("bigint").alias(
                "n_relevant"
            ),
            F.col("first_rank").cast("bigint").alias("first_rank"),
            F.coalesce(
                F.expr("1000000 div first_rank"), F.lit(0)
            )
            .cast("bigint")
            .alias("rr_e6"),
        )
    )


SQL_MRR = f"""
WITH {_CAND_SQL}, best AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant,
         MIN((-tf_sum, doc_id)) AS b
  FROM cand WHERE rel = nt GROUP BY query_id
), bestx AS (
  SELECT query_id, n_relevant, -(b[1]) AS s, b[2] AS d FROM best
), ranked AS (
  SELECT c.query_id, MIN(bx.n_relevant) AS n_relevant,
         CAST(1 + SUM(CASE WHEN c.tf_sum > bx.s
                             OR (c.tf_sum = bx.s AND c.doc_id < bx.d)
                           THEN 1 ELSE 0 END) AS BIGINT) AS first_rank
  FROM cand c JOIN bestx bx ON bx.query_id = c.query_id
  GROUP BY c.query_id
), qids(query_id) AS (VALUES {", ".join(f"('{q}')" for q, _ in _EVAL_QUERIES)})
SELECT qids.query_id,
       CAST(COALESCE(r.n_relevant, 0) AS BIGINT) AS n_relevant,
       CAST(r.first_rank AS BIGINT) AS first_rank,
       CAST(COALESCE(1000000 // r.first_rank, 0) AS BIGINT) AS rr_e6
FROM qids LEFT JOIN ranked r ON r.query_id = qids.query_id
"""

register(q_mrr, SQL_MRR)
