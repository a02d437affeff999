"""Extended inventory XXII — tokenizer vocabulary coverage + Heaps' law.

Round-3 seventh pass:

- ``q_tokenizer_oov`` — per-source out-of-vocabulary rate against the
  corpus top-V vocabulary: the tokenizer-health report that decides
  whether a domain needs vocab expansion before training (a source
  whose token mass falls outside the shared vocab will fragment into
  long byte-level encodings).  Vocab carve is TakeOrderedAndProject;
  membership rides a broadcast join; rates land in integer ppm.
- ``q_heaps_fit`` — Heaps'-law fit V(N) = K·N^β over nested md5-bucket
  prefixes of the corpus: the vocabulary-growth companion of
  q_zipf_fit (β ≈ 0.5-0.8 for natural text; a saturating vocabulary —
  β → 0 — signals template/synthetic contamination).  Each token
  contributes its FIRST prefix bucket (one min-aggregate), cumulative
  sums run over ten rows, and the log-log regression reuses the
  DECIMAL-routed closed form.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import text
from .queries_ext18 import _PCA_DEC18
from .registry import register
from .tables import TOKS_SQL, _t


# --------------------------------------------------------------------------
# Per-source OOV rate against the corpus top-V vocabulary
# --------------------------------------------------------------------------

_OOV_V = 512


def q_tokenizer_oov(spark, sf_dir):
    """Out-of-vocabulary rate per source against the corpus-wide top-512
    vocabulary (count-desc, token-asc tiebreak — deterministic).  One
    token-keyed count builds the vocab candidate table, the top-V carve
    compiles to TakeOrderedAndProject, membership joins BROADCAST
    against the exploded stream (the stream itself never reshuffles for
    the lookup), and per-source rates aggregate map-side.  Output:
    (source, n_tokens, n_oov, oov_ppm) — integer lanes throughout."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(text.tokens("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_OOV_V)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 div n_tokens").alias("oov_ppm"),
        )
    )


SQL_TOKENIZER_OOV = f"""
WITH toks AS (
  SELECT source, unnest({TOKS_SQL.format(c='text')}) AS tok FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
  ) ORDER BY c DESC, tok ASC LIMIT {_OOV_V}
), flagged AS (
  SELECT t.source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS is_oov
  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(is_oov) AS BIGINT) AS n_oov,
       CAST(SUM(is_oov) AS BIGINT) * 1000000 // COUNT(*) AS oov_ppm
FROM flagged GROUP BY source
"""

register(q_tokenizer_oov, SQL_TOKENIZER_OOV)


# --------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit over nested corpus prefixes
# --------------------------------------------------------------------------

_HEAPS_BUCKETS = 10


def q_heaps_fit(spark, sf_dir):
    """Heaps'-law regression log2 V = log2 K + β·log2 N over ten NESTED
    corpus prefixes (docs md5-bucketed 0..9; prefix i = buckets ≤ i, so
    each prefix is a uniform random subsample of the next).  Each token
    needs only its FIRST bucket (one min-aggregate over the token key);
    new-type and token-count profiles then cumulate over ten rows (the
    window is 10 rows — bounded by construction), and slope/intercept
    reuse the DECIMAL-routed closed form of q_zipf_fit.  Output:
    (n_points, beta_e6, log2k_e6)."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % _HEAPS_BUCKETS
    )
    toks = d.select(bucket.alias("b"), F.explode(text.tokens("text")).alias("tok"))
    per_bucket = toks.groupBy("b").agg(F.count(F.lit(1)).alias("n_toks"))
    first_b = (
        toks.groupBy("tok")
        .agg(F.min("b").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    prof = (
        per_bucket.join(first_b, "b", "left")
        .select(
            "b",
            "n_toks",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = prof.select(
        F.sum("n_toks").over(w).alias("cum_n"),
        F.sum("new_types").over(w).alias("cum_v"),
    )
    x = F.log2(F.col("cum_n").cast("double"))
    y = F.log2(F.col("cum_v").cast("double"))
    dec = lambda col: col.cast("decimal(27,18)")  # noqa: E731
    sums = cum.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(x * y)).alias("sxy"),
        F.sum(dec(x * x)).alias("sxx"),
    )
    # NULL on a degenerate regression, never a crash (DuckDB's double
    # x/0 is NULL; Spark ANSI raises — the q_zipf_fit guard)
    den = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    slope = F.when(
        den != 0,
        (
            F.col("n") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / den,
    )
    intercept = F.when(
        F.col("n") > 0,
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n"),
    )
    return sums.select(
        F.col("n").alias("n_points"),
        F.floor(slope * 1e6 + F.lit(0.5)).cast("bigint").alias("beta_e6"),
        F.floor(intercept * 1e6 + F.lit(0.5)).cast("bigint").alias(
            "log2k_e6"
        ),
    )


def _sql_heaps_fit() -> str:
    dx = _PCA_DEC18.format(v="x")
    dy = _PCA_DEC18.format(v="y")
    dxy = _PCA_DEC18.format(v="x * y")
    dxx = _PCA_DEC18.format(v="x * x")
    return f"""
WITH toks AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % {_HEAPS_BUCKETS} AS b,
         unnest({TOKS_SQL.format(c='text')}) AS tok
  FROM documents
), per_bucket AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_toks FROM toks GROUP BY b
), first_b AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS new_types FROM (
    SELECT tok, MIN(b) AS b FROM toks GROUP BY tok
  ) GROUP BY b
), prof AS (
  SELECT p.b, p.n_toks, COALESCE(f.new_types, 0) AS new_types
  FROM per_bucket p LEFT JOIN first_b f ON f.b = p.b
), cum AS (
  SELECT CAST(SUM(n_toks) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
         CAST(SUM(new_types) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_v
  FROM prof
), xy AS (
  SELECT log2(CAST(cum_n AS DOUBLE)) AS x, log2(CAST(cum_v AS DOUBLE)) AS y
  FROM cum
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM({dx}) AS sx, SUM({dy}) AS sy,
         SUM({dxy}) AS sxy, SUM({dxx}) AS sxx
  FROM xy
)
SELECT n AS n_points,
       CAST(floor(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sy AS DOUBLE))
                   / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sx AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)
           AS beta_e6,
       CAST(floor(((CAST(sy AS DOUBLE)
                    - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                            * CAST(sy AS DOUBLE))
                       / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                            * CAST(sx AS DOUBLE)))
                      * CAST(sx AS DOUBLE)) / n) * 1e6 + 0.5) AS BIGINT)
           AS log2k_e6
FROM s
"""


register(q_heaps_fit, _sql_heaps_fit())


# --------------------------------------------------------------------------
# ANN recall — oracle-checked twin of q_ann_recall on the seed-replay lane
# --------------------------------------------------------------------------

_AR_TABLES, _AR_PLANES = 16, 4  # the production q_ann_recall shape:
# many tables / few planes -> the high-recall end of the s-curve


def q_ann_recall_oracle(spark, sf_dir):
    """Recall@10 of the md5-plane LSH ANN against the exact brute-force
    top-10 — q_ann_recall's quality dial with BOTH sides on proven
    oracle-exact lanes (q_similarity_topk and the parameterized
    lsh_ann_topk_md5 at the production 16-table × 4-plane shape), so the
    measurement itself is value-hash verified end-to-end: membership
    intersection of two top-k sets, integer ppm.  At scale both inputs
    are per-query top-k rows, so the recall join is measurement-priced."""
    from pyspark.sql import Window

    from .operators import similarity
    from .queries_ext15 import _LSH_DIM, _md5_plane

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=10).select(
        "query_id", "vec_id"
    )
    # signature stage DATA-DRIVEN: planes are broadcast rows, the dot is
    # one sequential fold per (vector, plane) pair — at 16 tables the
    # literal-expression form costs seconds of whole-stage-codegen
    # compilation per run (4096 terms), while this stays O(1) plan size
    # at ANY table count and matches the oracle's list_sum fold order.
    planes_df = spark.createDataFrame(
        [
            (t, i, _md5_plane(t, i, _LSH_DIM))
            for t in range(_AR_TABLES)
            for i in range(_AR_PLANES)
        ],
        "t int, i int, p array<double>",
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("p"), lambda a, b: a.cast("double") * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sigs = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(planes_df))
        .groupBy("vec_id", "t")
        .agg(
            F.sum(
                F.when(dot >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), i)"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("sig")
        )
    )
    qs = sigs.join(
        queries.select(F.col("query_id").alias("vec_id")), "vec_id"
    ).select(F.col("vec_id").alias("query_id"), "t", "sig")
    cand = (
        sigs.join(F.broadcast(qs), ["t", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = (
        cand.join(
            emb.select(F.col("vec_id"), F.col("embedding").alias("__evec")),
            "vec_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    "query_id", F.col("embedding").alias("__qvec")
                )
            ),
            "query_id",
        )
        .withColumn(
            "cosine_sim",
            F.round(similarity.cosine(F.col("__evec"), F.col("__qvec")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.col("vec_id")
    )
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.lit(1).alias("__hit"))
    )
    return (
        exact.join(approx, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("n_hits")
        )
        .select(
            "query_id",
            "n_hits",
            F.expr("n_hits * 1000000 div 10").alias("recall_ppm"),
        )
    )


def _sql_ann_recall_oracle() -> str:
    from .tables import SQL_SIMILARITY_TOPK
    from .queries_ext15 import sql_ann_lsh_md5

    return f"""
WITH exact AS (
  {SQL_SIMILARITY_TOPK}
), approx AS (
  {sql_ann_lsh_md5(_AR_TABLES, _AR_PLANES)}
)
SELECT e.query_id,
       CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           * 1000000 // 10 AS recall_ppm
FROM exact e LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
GROUP BY e.query_id
"""


register(q_ann_recall_oracle, _sql_ann_recall_oracle())
