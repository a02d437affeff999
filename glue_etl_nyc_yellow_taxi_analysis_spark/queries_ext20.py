"""Extended inventory XX — skew planning, dedup telemetry, corpus laws,
distribution drift.

Round-3 fifth pass: operational/diagnostic operators a 100 TB curation
deployment runs continuously, each on an engine-portable lane:

- ``q_salt_plan`` — adaptive skew-salting plan: per-key volumes → the
  integer salt factor a downstream keyed shuffle should use.  The
  actionable upgrade of q_key_skew_profile's diagnosis.
- ``q_dup_graph_degree`` — degree histogram of the near-duplicate pair
  graph (md5-lane MinHash): the telemetry that distinguishes a corpus
  of isolated dup pairs from one giant template cluster.
- ``q_zipf_fit`` — least-squares Zipf slope over the top-256 token
  frequencies: log-log regression with every sum routed through
  DECIMAL(27,18) (order-free), logs of integers only.
- ``q_corpus_drift_js`` — Jensen-Shannon divergence between the token
  distributions of two md5-split source groups, algebraically reduced
  so every logarithm is of an exact integer product — the corpus-drift
  alarm between dataset releases.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import dedup, text
from .queries_ext13 import (
    _MH_BANDS,
    _MH_K,
    _MH_N,
    _MH_TAU,
    SQL_MINHASH_DEDUP_ORACLE,
)
from .queries_ext18 import _PCA_DEC18
from .registry import register
from .tables import TOKS_SQL, _t


# --------------------------------------------------------------------------
# Adaptive skew-salting plan
# --------------------------------------------------------------------------

_SALT_TARGET = 2000  # rows per salted sub-key a downstream task should see


def q_salt_plan(spark, sf_dir):
    """Per-key salting plan for a skewed shuffle key: one keyed count
    over events.event_type, then salt_factor = ceil(n / target) in pure
    integer math — the table a salted join/agg broadcasts to explode its
    hot keys (q_salted_join consumes a fixed factor; this computes the
    right one per key from observed volume).  The share column is the
    ppm of total traffic, so the plan doubles as the skew report.  One
    scan, one keyed aggregate, a broadcast single-row total."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = counts.agg(F.sum("n_rows").cast("bigint").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_rows",
            F.expr(f"(n_rows + {_SALT_TARGET - 1}) div {_SALT_TARGET}").alias(
                "salt_factor"
            ),
            F.expr("n_rows * 1000000 div n_total").alias("share_ppm"),
        )
    )


SQL_SALT_PLAN = f"""
WITH c AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY event_type
), t AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM c
)
SELECT event_type, n_rows,
       (n_rows + {_SALT_TARGET - 1}) // {_SALT_TARGET} AS salt_factor,
       n_rows * 1000000 // n_total AS share_ppm
FROM c, t
"""

register(q_salt_plan, SQL_SALT_PLAN)


# --------------------------------------------------------------------------
# Near-duplicate graph degree histogram
# --------------------------------------------------------------------------

def q_dup_graph_degree(spark, sf_dir):
    """Degree histogram of the verified near-dup pair graph (md5-lane
    MinHash, q_minhash_dedup_oracle's exact pipeline): per-doc duplicate
    degree → (degree, n_docs), with the degree-0 row filled from the
    corpus total so the histogram is a complete partition of the corpus.
    A long degree tail means template/boilerplate clusters (dedup should
    keep-one-per-cluster); isolated pairs mean true near-dups.  Cost
    beyond the banded pipeline: one explode of the (tiny) pair set and
    two small keyed aggregates."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        shingle_n=_MH_N,
        threshold=_MH_TAU,
        lane="md5",
    )
    deg = (
        pairs.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))
    zero = (
        docs.agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_cov"))))
        .select(
            F.lit(0).cast("bigint").alias("degree"),
            (F.col("n_total") - F.col("n_cov")).cast("bigint").alias("n_docs"),
        )
    )
    return hist.select(
        F.col("degree").cast("bigint").alias("degree"), "n_docs"
    ).unionByName(zero)


SQL_DUP_GRAPH_DEGREE = f"""
WITH pairs AS (
  {SQL_MINHASH_DEDUP_ORACLE}
), ids AS (
  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs
), deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM ids GROUP BY id
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs FROM deg GROUP BY degree
UNION ALL
SELECT CAST(0 AS BIGINT) AS degree,
       (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM deg)
           AS n_docs
"""

register(q_dup_graph_degree, SQL_DUP_GRAPH_DEGREE)


# --------------------------------------------------------------------------
# Zipf-law fit over token frequencies
# --------------------------------------------------------------------------

_ZIPF_TOPN = 256


def q_zipf_fit(spark, sf_dir):
    """Least-squares Zipf slope over the top-256 token frequencies —
    the corpus-health law check (natural text slopes ≈ −1; token salad
    flattens).  Frequencies reduce with one token-keyed aggregate; the
    top-N carve is orderBy+limit (TakeOrderedAndProject — never a full
    sort), and ranking then runs on 256 rows.  x = log2(rank),
    y = log2(count) are logs of exact integers; all five regression sums
    route through DECIMAL(27,18) so they are order-free, and the closed-
    form slope/intercept run in doubles only on the decimal-exact sums.
    Output is a single (n_points, slope_e6, intercept_e6) integer row."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(text.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.desc("c"), F.asc("tok")).limit(_ZIPF_TOPN)
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    ranked = top.withColumn("r", F.row_number().over(w).cast("bigint"))
    x = F.log2(F.col("r").cast("double"))
    y = F.log2(F.col("c").cast("double"))
    dec = lambda col: col.cast("decimal(27,18)")  # noqa: E731
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(x * y)).alias("sxy"),
        F.sum(dec(x * x)).alias("sxx"),
    )
    # degenerate regressions (one point / zero spread) yield NULL, not a
    # crash: DuckDB's double x/0 is NULL, and Spark ANSI raises — guard
    # the denominator explicitly (degenerate-corpus sweep finding)
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
        F.floor(slope * 1e6 + F.lit(0.5)).cast("bigint").alias("slope_e6"),
        F.floor(intercept * 1e6 + F.lit(0.5)).cast("bigint").alias(
            "intercept_e6"
        ),
    )


def _sql_zipf_fit() -> str:
    dx = _PCA_DEC18.format(v="x")
    dy = _PCA_DEC18.format(v="y")
    dxy = _PCA_DEC18.format(v="x * y")
    dxx = _PCA_DEC18.format(v="x * x")
    return f"""
WITH tokc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT unnest({TOKS_SQL.format(c='text')}) AS tok FROM documents
  ) GROUP BY tok
), top AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS r
  FROM (SELECT * FROM tokc ORDER BY c DESC, tok ASC LIMIT {_ZIPF_TOPN})
), xy AS (
  SELECT log2(CAST(r AS DOUBLE)) AS x, log2(CAST(c AS DOUBLE)) AS y
  FROM top
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
           AS slope_e6,
       CAST(floor(((CAST(sy AS DOUBLE)
                    - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                            * CAST(sy AS DOUBLE))
                       / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                            * CAST(sx AS DOUBLE)))
                      * CAST(sx AS DOUBLE)) / n) * 1e6 + 0.5) AS BIGINT)
           AS intercept_e6
FROM s
"""


register(q_zipf_fit, _sql_zipf_fit())


# --------------------------------------------------------------------------
# Corpus drift: Jensen-Shannon divergence between source groups
# --------------------------------------------------------------------------

def q_corpus_drift_js(spark, sf_dir):
    """Jensen-Shannon divergence between the token distributions of two
    md5-split source groups — the drift alarm run between dataset
    releases (JS is symmetric, bounded [0,1] in log2, and defined when
    one side misses a token).  The textbook form needs log2 of ratios of
    probabilities; here it is algebraically reduced so every log is of
    an EXACT integer product (a·N_b, a·N_b + b·N_a — all < 2^53):
    p/m = 2·a·N_b / (a·N_b + b·N_a), so
    term_a = a · (1 + log2(a·N_b) − log2(a·N_b + b·N_a)), and the JS sum
    is Σterm_a/(2·N_a) + Σterm_b/(2·N_b) with both Σ routed through
    DECIMAL(27,18) — order-free, engine-portable.  Plan: one token-keyed
    aggregate with a conditional-count pivot, a broadcast totals row, a
    vocab-sized term map, one final fold."""
    d = _t(spark, sf_dir, "documents")
    side = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10)
        .cast("bigint") % 2
    )
    toks = d.select(side.alias("side"), F.explode(text.tokens("text")).alias("tok"))
    ab = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    tot = ab.agg(
        F.sum("a").cast("bigint").alias("n_a"),
        F.sum("b").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).alias("vocab"),
    )
    j = ab.crossJoin(F.broadcast(tot))
    a_nb = F.col("a").cast("double") * F.col("n_b")
    b_na = F.col("b").cast("double") * F.col("n_a")
    s = a_nb + b_na
    # Guard on the PRODUCT being positive (a>0 AND n_b>0), not just the
    # count: a degenerate split (every token on one side) would feed
    # log2(0), where Spark yields NULL but DuckDB yields -inf-in-DECIMAL
    # (an error) — the engines must agree on the corner.
    term_a = F.when(
        (F.col("a") > 0) & (F.col("n_b") > 0),
        F.col("a").cast("double") * (F.lit(1.0) + F.log2(a_nb) - F.log2(s)),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        (F.col("b") > 0) & (F.col("n_a") > 0),
        F.col("b").cast("double") * (F.lit(1.0) + F.log2(b_na) - F.log2(s)),
    ).otherwise(F.lit(0.0))
    folded = j.groupBy("n_a", "n_b", "vocab").agg(
        F.sum(term_a.cast("decimal(27,18)")).alias("sa"),
        F.sum(term_b.cast("decimal(27,18)")).alias("sb"),
    )
    js = (
        F.col("sa").cast("double") / (F.lit(2.0) * F.col("n_a"))
        + F.col("sb").cast("double") / (F.lit(2.0) * F.col("n_b"))
    )
    return folded.select(
        "n_a",
        "n_b",
        "vocab",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.floor(js * 1e9 + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("js_e9"),
    )


def _sql_corpus_drift_js() -> str:
    da = _PCA_DEC18.format(
        v=(
            "CASE WHEN a > 0 AND n_b > 0 THEN CAST(a AS DOUBLE) * "
            "(1.0 + log2(CAST(a AS DOUBLE) * n_b) "
            "- log2(CAST(a AS DOUBLE) * n_b + CAST(b AS DOUBLE) * n_a)) "
            "ELSE 0.0 END"
        )
    )
    db = _PCA_DEC18.format(
        v=(
            "CASE WHEN b > 0 AND n_a > 0 THEN CAST(b AS DOUBLE) * "
            "(1.0 + log2(CAST(b AS DOUBLE) * n_a) "
            "- log2(CAST(a AS DOUBLE) * n_b + CAST(b AS DOUBLE) * n_a)) "
            "ELSE 0.0 END"
        )
    )
    return f"""
WITH toks AS (
  SELECT ('0x' || substr(md5(source), 1, 8))::BIGINT % 2 AS side,
         unnest({TOKS_SQL.format(c='text')}) AS tok
  FROM documents
), ab AS (
  SELECT tok,
         CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM toks GROUP BY tok
), t AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS vocab
  FROM ab
), folded AS (
  SELECT n_a, n_b, vocab, SUM({da}) AS sa, SUM({db}) AS sb
  FROM ab, t GROUP BY n_a, n_b, vocab
)
SELECT n_a, n_b, vocab,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CAST(floor((CAST(sa AS DOUBLE) / (2.0 * n_a)
                     + CAST(sb AS DOUBLE) / (2.0 * n_b)) * 1e9 + 0.5)
              AS BIGINT)
       ELSE 0 END AS js_e9
FROM folded
"""


register(q_corpus_drift_js, _sql_corpus_drift_js())


# --------------------------------------------------------------------------
# Incremental corpus dedup: new batch probed against the base index
# --------------------------------------------------------------------------

def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup of an arriving batch against the existing
    corpus: new docs (doc_id ≡ 0 mod 7 — the day's arrivals) probe the
    base's LSH band index ASYMMETRICALLY — band keys of the batch join
    band keys of the base, never base×base — so a continuously growing
    100 TB corpus re-checks only the new slice against a precomputed
    index, the only affordable shape for rolling ingestion.  Verification
    is exact and integer-only: a candidate is a duplicate iff
    2·|A∩B| ≥ |A∪B| (τ=0.5 without any division), and the reported
    similarity is the floor-ppm lane.  Output: one row per new doc with
    its dup verdict, lowest matching base id (deterministic) and best
    similarity — the admission decision a curation pipeline applies."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, num_hashes=_MH_K, shingle_n=_MH_N, lane="md5"
    ).cache()
    is_new = F.pmod(F.col("id"), F.lit(7)) == 0
    bands_all = dedup.banded_keys(sigs, _MH_K, _MH_BANDS, "md5")
    new_b = bands_all.filter(F.pmod(F.col("id"), F.lit(7)) == 0)
    base_b = bands_all.filter(F.pmod(F.col("id"), F.lit(7)) != 0)
    cand = (
        new_b.alias("n")
        .join(
            base_b.alias("b"),
            (F.col("n.band_idx") == F.col("b.band_idx"))
            & (F.col("n.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("n.id").alias("new_id"), F.col("b.id").alias("base_id")
        )
        .distinct()
    )
    sh = sigs.select("id", "shingles")
    ver = (
        cand.join(
            sh.withColumnsRenamed({"id": "new_id", "shingles": "sh_n"}),
            "new_id",
        )
        .join(
            sh.withColumnsRenamed({"id": "base_id", "shingles": "sh_b"}),
            "base_id",
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect(F.col("sh_n"), F.col("sh_b"))).cast(
                "bigint"
            ),
        )
        .withColumn(
            "uni",
            (
                F.size(F.col("sh_n")) + F.size(F.col("sh_b"))
            ).cast("bigint")
            - F.col("inter"),
        )
        .filter((F.col("uni") > 0) & (2 * F.col("inter") >= F.col("uni")))
        .select(
            "new_id",
            "base_id",
            F.expr("inter * 1000000 div uni").alias("jacc_ppm"),
        )
    )
    summary = ver.groupBy("new_id").agg(
        F.min("base_id").alias("match_id"),
        F.max("jacc_ppm").alias("best_jacc_ppm"),
    )
    return (
        sigs.filter(is_new)
        .select(F.col("id").alias("new_id"))
        .join(summary, "new_id", "left")
        .select(
            F.col("new_id").alias("doc_id"),
            F.when(F.col("match_id").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_dup"),
            F.coalesce(F.col("match_id"), F.lit(-1)).alias("match_id"),
            F.coalesce(F.col("best_jacc_ppm"), F.lit(0)).alias(
                "best_jacc_ppm"
            ),
        )
    )


def _sql_dedup_incremental() -> str:
    from .queries_ext13 import (
        _BAND_COLS_SQL,
        _MINHASH_COLS_SQL,
        _SHINGLES_SQL,
    )
    from .queries_ext13 import _BAND_UNION_SQL as _BU

    return f"""
WITH base AS (
    SELECT doc_id AS id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), shs AS (
    SELECT id, {_SHINGLES_SQL} AS sh FROM base
), sigs AS (
    SELECT id, sh,
           {_MINHASH_COLS_SQL}
    FROM shs
), bands AS (
    SELECT id, sh,
           {_BAND_COLS_SQL}
    FROM sigs
), banded AS (
    SELECT id, sh, band_idx, band_hash FROM (
        {_BU}
    )
), cand AS (
    SELECT DISTINCT n.id AS new_id, b.id AS base_id,
           n.sh AS sh_n, b.sh AS sh_b
    FROM banded n JOIN banded b
      ON n.band_idx = b.band_idx AND n.band_hash = b.band_hash
     AND n.id % 7 = 0 AND b.id % 7 <> 0
), ver AS (
    SELECT new_id, base_id, inter * 1000000 // uni AS jacc_ppm FROM (
        SELECT new_id, base_id,
               CAST(len(list_intersect(sh_n, sh_b)) AS BIGINT) AS inter,
               CAST(len(sh_n) + len(sh_b)
                    - len(list_intersect(sh_n, sh_b)) AS BIGINT) AS uni
        FROM cand)
    WHERE uni > 0 AND 2 * inter >= uni
), summary AS (
    SELECT new_id, MIN(base_id) AS match_id,
           MAX(jacc_ppm) AS best_jacc_ppm
    FROM ver GROUP BY new_id
)
SELECT s.id AS doc_id,
       CAST(CASE WHEN m.match_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS is_dup,
       COALESCE(m.match_id, -1) AS match_id,
       COALESCE(m.best_jacc_ppm, 0) AS best_jacc_ppm
FROM shs s LEFT JOIN summary m ON m.new_id = s.id
WHERE s.id % 7 = 0
"""


register(q_dedup_incremental, _sql_dedup_incremental())
