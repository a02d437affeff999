"""Extended inventory XXXI — sketch-family completion + eval/privacy
lanes (round 6, fifth batch).

- ``q_hll_distinct``: HyperLogLog distinct-count — the LAST member of
  the explicit sketch family (Bloom membership ✓, CMS frequency ✓, DP
  release ✓ in ext28; HLL cardinality was the gap).  m = 64 registers,
  p = 6 index bits off the shared cross-engine hash32; rho comes from
  ``27 - length(bin(w))`` — an integer STRING-LENGTH, not floor(log2),
  so no libm anywhere (the q_benford digit-extraction rule).  The
  harmonic-mean estimator is evaluated as ONE exact integer division:
  every 2^-M_j term is scaled by 2^27 into a BIGINT, and
  alpha_64 = 0.7213/(1 + 1.079/64) is the exact rational
  230816/325395, so est = NUM div (325395·S27) with NUM a compile-time
  literal.  Mergeability is proven in-lane (the q_sketch_merge shape):
  per-parity-half registers merged by MAX must equal the whole-corpus
  registers.  Like the other sketches: one keyed aggregate to build a
  fixed 64-row summary — the standing-cardinality shape that absorbs a
  new shard at 100 TB by a 64-row MAX, no rescan.
- ``q_quality_auc``: exact tie-aware ROC-AUC (Mann-Whitney form) of a
  dup-ness score against the generator's own ground truth (near-dup
  copies carry the 'dup' marker token).  Score = mean bigram document
  frequency (copies share their source's bigrams, pushing df ≥ 2).
  The rank pass is the two-phase ``global_running_sum`` over the
  per-score group table — never a one-task ORDER BY window — and ties
  are handled exactly by the grouped form: AUC = Σ_g pos_g·(neg_<g +
  neg_g/2) / (P·N), kept integral by doubling.  All-integer output;
  NULL when either class is empty.
- ``q_l_diversity``: the privacy audit k-anonymity (ext17) does not
  cover — a group can be k-large yet expose its sensitive attribute if
  every member shares one value.  QI = (lang, source) over documents,
  sensitive = n_chars length band; per group: size k, distinct
  sensitive values l, and the l ≥ 2 flag.  One keyed aggregate.

Scale posture: HLL register table is O(m) regardless of corpus size;
the AUC group table is bounded by distinct score values (and its only
global pass is the bucketed two-phase running sum); l-diversity is a
single keyed aggregate.  The AUC numerator doubles P·N — route through
DECIMAL beyond ~10^12 docs per class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import indexing, text
from .operators.materialize import materialize
from .operators.sketches import DUCK_HASH32, hash32
from .queries_ext29 import _BG_SQL
from .registry import register
from .tables import TOKS_SQL, _t


# ---------------------------------------------------------------------------
# q_hll_distinct — HyperLogLog cardinality + register-merge proof
# ---------------------------------------------------------------------------

_HLL_M = 64          # registers (p = 6 index bits)
_HLL_WBITS = 26      # 32-bit hash minus 6 index bits
_HLL_RMAX = _HLL_WBITS + 1
# est = alpha_64 · m² · 2^27 / S27, alpha_64 = 230816/325395 exactly
_HLL_NUM = 230816 * _HLL_M * _HLL_M * (1 << (_HLL_WBITS + 1))
_HLL_DEN = 325395


def _hll_regs(sh):
    """(idx, reg) registers from a single-column shingle frame ``s`` —
    one keyed aggregate; rho via length(bin(w)) (exact integer string
    length, agrees bit-for-bit with DuckDB's bin())."""
    h = hash32(F.concat(F.lit("hll|"), F.col("s")))
    w = h % (1 << _HLL_WBITS)
    rho = F.when(w == 0, F.lit(_HLL_RMAX)).otherwise(
        F.lit(_HLL_RMAX) - F.length(F.bin(w))
    )
    return (
        sh.select(
            F.shiftright(h, _HLL_WBITS).cast("long").alias("idx"),
            rho.alias("rho"),
        )
        .groupBy("idx")
        .agg(F.max("rho").alias("reg"))
    )


def q_hll_distinct(spark, sf_dir):
    """HLL over the corpus's distinct word-trigram shingles, with the
    parity-split merge proof and the exact distinct count alongside
    (at 100 TB the exact side is the expensive path; here it is the
    oracle the estimate is judged against — the test pins the error
    inside the 1.04/sqrt(64) ≈ 13% band)."""
    docs = _t(spark, sf_dir, "documents")
    # ONE scan+shingle pass: whole/even/odd registers and the exact
    # distinct all consumed the exploded shingles separately (5 corpus
    # scans).  The shared exact base is the per-(half, shingle) DISTINCT
    # table — register maxes are duplicate-insensitive and the exact
    # count is a distinct over it, so every consumer derives from it
    # bit-identically.
    sh = materialize(
        docs.select(
            (F.col("doc_id") % 2 == 0).alias("even"),
            F.explode(text.shingles("text")).alias("s"),
        ).distinct(),
        "distinct (half, shingle): read by three registers and the exact count",
    )
    whole = _hll_regs(sh)
    merged = (
        _hll_regs(sh.filter("even"))
        .unionByName(_hll_regs(sh.filter("NOT even")))
        .groupBy("idx")
        .agg(F.max("reg").alias("reg"))
    )
    cmp_row = (
        merged.alias("m")
        .join(whole.alias("w"), ["idx"], "full")
        .select(
            F.coalesce(F.col("m.reg"), F.lit(0)).alias("mr"),
            F.coalesce(F.col("w.reg"), F.lit(0)).alias("wr"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("merge_regs"),
            F.sum(F.when(F.col("mr") == F.col("wr"), 1).otherwise(0))
            .cast("long")
            .alias("merge_equal"),
        )
    )
    est_row = whole.agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        (
            F.sum(F.expr(f"shiftleft(1L, CAST({_HLL_RMAX} - reg AS INT))"))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << _HLL_RMAX).cast("long")
        )
        .cast("long")
        .alias("s27"),
    ).withColumn(
        "est_e0", F.expr(f"{_HLL_NUM} div ({_HLL_DEN} * s27)").cast("long")
    )
    exact_row = sh.agg(F.countDistinct("s").cast("long").alias("n_exact"))
    return est_row.crossJoin(F.broadcast(cmp_row)).crossJoin(
        F.broadcast(exact_row)
    )


def _duck_hll_regs(src: str) -> str:
    """DuckDB (idx, reg) registers over a single-column (s) relation.
    Outer index columns are NOT named i (DUCK_HASH32's lambda binds i —
    the q_weighted_sample shadowing gotcha)."""
    h = DUCK_HASH32.format(s="'hll|' || s")
    return f"""
  SELECT h // {1 << _HLL_WBITS} AS idx,
         MAX(CASE WHEN h % {1 << _HLL_WBITS} = 0 THEN {_HLL_RMAX}
                  ELSE {_HLL_RMAX} - length(bin(h % {1 << _HLL_WBITS}))
             END) AS reg
  FROM (SELECT {h} AS h FROM ({src}))
  GROUP BY 1
"""


SQL_HLL_DISTINCT = f"""
WITH sh AS (
  SELECT doc_id % 2 = 0 AS even, unnest(list_distinct(list_transform(
      range(0, greatest(len(toks) - 3, 0) + 1),
      j -> array_to_string(list_slice(toks, j + 1, j + 3), ' ')))) AS s
  FROM (SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents)
),
whole AS ({_duck_hll_regs('SELECT s FROM sh')}),
rev   AS ({_duck_hll_regs('SELECT s FROM sh WHERE even')}),
rodd  AS ({_duck_hll_regs('SELECT s FROM sh WHERE NOT even')}),
merged AS (
  SELECT idx, MAX(reg) AS reg
  FROM (SELECT * FROM rev UNION ALL SELECT * FROM rodd) GROUP BY idx
),
cmp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS merge_regs,
         CAST(SUM(CASE WHEN COALESCE(m.reg, 0) = COALESCE(w.reg, 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS merge_equal
  FROM merged m FULL JOIN whole w USING (idx)
),
est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
         CAST(SUM(CAST(1 AS BIGINT) << CAST({_HLL_RMAX} - reg AS INTEGER))
              + ({_HLL_M} - COUNT(*)) * {1 << _HLL_RMAX} AS BIGINT) AS s27
  FROM whole
),
ex AS (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS n_exact FROM sh)
SELECT est.n_present, est.s27,
       CAST({_HLL_NUM} // ({_HLL_DEN} * est.s27) AS BIGINT) AS est_e0,
       cmp.merge_regs, cmp.merge_equal, ex.n_exact
FROM est, cmp, ex
"""

register(q_hll_distinct, SQL_HLL_DISTINCT)


# ---------------------------------------------------------------------------
# q_quality_auc — exact tie-aware ROC-AUC vs generator ground truth
# ---------------------------------------------------------------------------

def quality_auc_of(d):
    """AUC of the mean-bigram-df dup-ness score against the 'dup'
    marker, over a documents FRAME (frame-level so jobs.eval_report
    can reuse the lane).  Grouped Mann-Whitney, everything doubled to
    stay integral: auc_e6 = Σ_g pos_g·(2·neg_<g + neg_g) · 1e6
    div (2·P·N).  The only ordered pass is the two-phase
    global_running_sum over the per-score GROUP table (bounded by
    distinct score values), never a one-task window over docs.  Docs
    with <2 tokens have no bigrams and drop from scoring on both
    engines."""
    bg = (
        d.select("doc_id", text.tokens("text").alias("toks"))
        .select(
            "doc_id",
            # the label rides the bigram pass: y is constant per doc, so
            # distinct (doc_id, y, w1, w2) has exactly the cardinality of
            # distinct (doc_id, w1, w2) — this removes the separate
            # label scan+tokenize AND the score-label join the r11 plan
            # audit found (3 corpus scans -> 1, one join gone)
            F.array_contains("toks", "dup").cast("bigint").alias("y"),
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
                    F.slice("toks", 2, F.size("toks") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", "y", "p.w1", "p.w2")
        # score only non-marker bigrams: the label token itself is rare,
        # so bigrams containing it would leak the label INVERTED (their
        # low df drags dup docs' mean down — AUC 0.10 at sf0.1 without
        # this guard, 0.59 with it)
        .where((F.col("w1") != "dup") & (F.col("w2") != "dup"))
        .distinct()
    )
    bg = materialize(bg, "per-doc bigrams: read by the df count and the score join")
    dfreq = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("df"))
    score = (
        bg.join(dfreq, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.expr("sum(df) * 10000 div count(*)").cast("bigint").alias(
                "score_e4"
            ),
            # y is constant within a doc; min() is its deterministic pick
            F.min("y").alias("y"),
        )
    )
    g = (
        score.groupBy("score_e4")
        .agg(
            F.sum("y").cast("bigint").alias("pos"),
            F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("neg"),
        )
    )
    r = indexing.global_running_sum(g, "score_e4", "neg", out_col="neg_le")
    return r.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.expr(
            "CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN"
            " sum(pos * (2 * (neg_le - neg) + neg)) * 1000000"
            " div (2 * sum(pos) * sum(neg)) END"
        )
        .cast("bigint")
        .alias("auc_e6"),
    )


def q_quality_auc(spark, sf_dir):
    """Registry-facing wrapper: dup-ness ROC-AUC over the sf_dir
    documents table (see ``quality_auc_of``)."""
    return quality_auc_of(_t(spark, sf_dir, "documents"))


SQL_QUALITY_AUC = f"""
WITH {_BG_SQL}, types AS (
  SELECT DISTINCT doc_id, w1, w2 FROM bg
  WHERE w1 <> 'dup' AND w2 <> 'dup'
), dfreq AS (
  SELECT w1, w2, COUNT(*) AS df FROM types GROUP BY w1, w2
), score AS (
  SELECT doc_id, CAST(SUM(df) * 10000 // COUNT(*) AS BIGINT) AS score_e4
  FROM types JOIN dfreq USING (w1, w2) GROUP BY doc_id
), lab AS (
  SELECT doc_id,
         CASE WHEN list_contains(toks, 'dup') THEN 1 ELSE 0 END AS y
  FROM tok
), g AS (
  SELECT score_e4, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM score JOIN lab USING (doc_id) GROUP BY score_e4
), r AS (
  SELECT pos, neg,
         SUM(neg) OVER (ORDER BY score_e4
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS neg_le
  FROM g
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(neg) AS BIGINT) AS n_neg,
       CAST(CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0 THEN
            SUM(pos * (2 * (neg_le - neg) + neg)) * 1000000
            // (2 * SUM(pos) * SUM(neg)) END AS BIGINT) AS auc_e6
FROM r
"""

register(q_quality_auc, SQL_QUALITY_AUC)


# ---------------------------------------------------------------------------
# q_l_diversity — sensitive-attribute diversity audit
# ---------------------------------------------------------------------------

_LDIV_BAND = 100
_LDIV_L = 2


def q_l_diversity(spark, sf_dir):
    """Per (lang, source) quasi-identifier group: size k, distinct
    sensitive length-band values l, and the l >= _LDIV_L flag — the
    complement of q_kanonymity's size-only audit (a k-large group with
    one sensitive value still leaks it).  NULL QI values form their own
    groups; NULL n_chars is excluded from l on both engines (COUNT
    DISTINCT ignores NULL).  One keyed aggregate."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            "source",
            F.expr(f"n_chars div {_LDIV_BAND}").cast("bigint").alias("band"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_size"),
            F.countDistinct("band").cast("bigint").alias("l_distinct"),
            (F.countDistinct("band") >= _LDIV_L).cast("bigint").alias(
                "is_diverse"
            ),
        )
    )


SQL_L_DIVERSITY = f"""
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS k_size,
       CAST(COUNT(DISTINCT n_chars // {_LDIV_BAND}) AS BIGINT) AS l_distinct,
       CAST(CASE WHEN COUNT(DISTINCT n_chars // {_LDIV_BAND}) >= {_LDIV_L}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_diverse
FROM documents GROUP BY lang, source
"""

register(q_l_diversity, SQL_L_DIVERSITY)
