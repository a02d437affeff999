"""Extended inventory XXXII — eval-metric + curation lanes (round 6,
sixth batch).

- ``q_rouge_pairs``: ROUGE-1/2 recall and F1 between LEAD-adjacent
  same-source (candidate, reference) docs — the summarization-eval
  companion to ``q_bleu_pairs`` (ext30), which only measures the
  candidate-side clipped precision.  m_n = Σ_g min(c_cand, c_ref);
  recall_n = m_n / ref_len; F1_n = 2·m_n / (cand_len + ref_len) — the
  harmonic mean collapses to one exact integer division, so every
  output is an integral ppm lane.  Pairs whose reference has no
  bigrams yield NULL rouge-2 (undefined denominator), never 0/0.
- ``q_rank_correlation``: exact Kendall tau-a between two rankings of
  a K-bounded per-source document sample — the IR-eval primitive for
  "do two scorers order the corpus the same way" (here: chars-rank vs
  distinct-token-type rank).  Ranks are row_number (unique, no tau-b
  tie term); concordant/discordant come from the K²-bounded in-source
  pair join, so work is O(sources·K²), never O(corpus²).
- ``q_blocklist_filter``: the C4-style badword gate that runs before
  any model-based quality pass — a tiny in-plan blocklist, per-doc
  occurrence counting via a lambda filter (JVM higher-order function,
  no Python), one keyed aggregate per source.  NULL text counts as a
  clean doc (0 hits / 0 tokens) on both engines.

Scale posture: rouge is LEAD-adjacent (O(corpus) pairs, shuffles keyed
on doc_id / (ref_id, g)); rank-correlation's all-pairs is K-bounded per
source BEFORE the join (row_number ≤ K prunes first); the blocklist is
a compile-time literal inside the lambda — no join, no shuffle beyond
the final per-source aggregate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import text
from .queries_ext29 import _BG_SQL, bigrams_of
from .registry import register
from .tables import TOKS_SQL, _t


# ---------------------------------------------------------------------------
# q_rouge_pairs — ROUGE-1/2 recall + F1 between LEAD-adjacent docs
# ---------------------------------------------------------------------------

def _lead_pairs(d):
    """(cand, ref_id) LEAD-adjacent within source — the q_bleu_pairs
    pairing (already-paired eval rows at corpus scale)."""
    return (
        d.select(
            "source",
            F.col("doc_id").alias("cand"),
            F.lead("doc_id")
            .over(Window.partitionBy("source").orderBy("doc_id"))
            .alias("ref_id"),
        )
        .where(F.col("ref_id").isNotNull())
        .select("cand", "ref_id")
    )


def rouge_pair_metrics(d):
    """ROUGE-1/2 between each doc (candidate) and the next doc_id in
    its source (reference), over a documents FRAME (frame-level so
    jobs.eval_report can reuse the lane).  For n in {1,2}: m_n =
    Σ_g min(c_cand(g), c_ref(g)); recall r_n = m_n/ref_len; F1 =
    2·m_n/(cand_len+ref_len)
    (P = m/c and R = m/r make 2PR/(P+R) collapse exactly).  Integer ppm
    outputs; rouge-2 is NULL when either side has no bigrams (<2
    tokens), NULL-text docs carry no grams and drop from pairing on
    both engines.  Shuffles are keyed on doc_id / (ref_id, g); the
    overlap join is inner (min is 0 unless both counts > 0) with a
    left join back to the pair base for zero-overlap pairs."""
    pairs = _lead_pairs(d)
    uni = (
        d.select("doc_id", F.explode(text.tokens("text")).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        bigrams_of(d)
        .select("doc_id", F.concat_ws(" ", "w1", "w2").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def lens(grams, col):
        return grams.groupBy("doc_id").agg(
            F.sum("c").cast("bigint").alias(col)
        )

    def overlap(grams, col):
        cand_side = pairs.join(
            grams.withColumnRenamed("doc_id", "cand").withColumnRenamed(
                "c", "c_cand"
            ),
            "cand",
        )
        ref_side = grams.withColumnRenamed(
            "doc_id", "ref_id"
        ).withColumnRenamed("c", "c_ref")
        return (
            cand_side.join(ref_side, ["ref_id", "g"])
            .groupBy("cand", "ref_id")
            .agg(
                F.sum(F.least("c_cand", "c_ref")).cast("bigint").alias(col)
            )
        )

    u_len, b_len = lens(uni, "ulen"), lens(bi, "blen")
    base = (
        pairs.join(u_len.withColumnRenamed("doc_id", "cand"), "cand")
        .join(
            u_len.selectExpr("doc_id AS ref_id", "ulen AS r_ulen"), "ref_id"
        )
        .join(
            b_len.withColumnRenamed("doc_id", "cand").withColumnRenamed(
                "blen", "c_blen"
            ),
            "cand",
            "left",
        )
        .join(
            b_len.selectExpr("doc_id AS ref_id", "blen AS r_blen"),
            "ref_id",
            "left",
        )
    )
    return (
        base.join(overlap(uni, "m1"), ["cand", "ref_id"], "left")
        .join(overlap(bi, "m2"), ["cand", "ref_id"], "left")
        .select(
            "cand",
            "ref_id",
            F.coalesce("m1", F.lit(0)).cast("bigint").alias("m1"),
            F.expr("coalesce(m1, 0) * 1000000 div r_ulen")
            .cast("bigint")
            .alias("r1_e6"),
            F.expr("2 * coalesce(m1, 0) * 1000000 div (ulen + r_ulen)")
            .cast("bigint")
            .alias("f1_e6"),
            # NULL blen (either side token-count < 2) NULL-propagates
            # through the division — rouge-2 is undefined, not 0
            F.expr(
                "CASE WHEN c_blen IS NOT NULL AND r_blen IS NOT NULL"
                " THEN coalesce(m2, 0) ELSE NULL END"
            )
            .cast("bigint")
            .alias("m2"),
            F.expr("coalesce(m2, 0) * 1000000 div r_blen")
            .cast("bigint")
            .alias("r2_e6"),
            F.expr("2 * coalesce(m2, 0) * 1000000 div (c_blen + r_blen)")
            .cast("bigint")
            .alias("f2_e6"),
        )
    )


def q_rouge_pairs(spark, sf_dir):
    """Registry-facing wrapper: ROUGE pair metrics over the sf_dir
    documents table (see ``rouge_pair_metrics``)."""
    return rouge_pair_metrics(_t(spark, sf_dir, "documents"))


SQL_ROUGE_PAIRS = f"""
WITH {_BG_SQL}, pairs AS (
  SELECT cand, ref_id FROM (
    SELECT doc_id AS cand,
           LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
    FROM documents
  ) WHERE ref_id IS NOT NULL
), uni AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(toks) AS g FROM tok
  ) GROUP BY doc_id, g
), bi AS (
  SELECT doc_id, w1 || ' ' || w2 AS g, COUNT(*) AS c
  FROM bg GROUP BY doc_id, w1 || ' ' || w2
), ulen AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS ulen FROM uni GROUP BY doc_id
), blen AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS blen FROM bi GROUP BY doc_id
), ov1 AS (
  SELECT p.cand, p.ref_id,
         CAST(SUM(least(cu.c, ru.c)) AS BIGINT) AS m1
  FROM pairs p JOIN uni cu ON cu.doc_id = p.cand
               JOIN uni ru ON ru.doc_id = p.ref_id AND ru.g = cu.g
  GROUP BY p.cand, p.ref_id
), ov2 AS (
  SELECT p.cand, p.ref_id,
         CAST(SUM(least(cb.c, rb.c)) AS BIGINT) AS m2
  FROM pairs p JOIN bi cb ON cb.doc_id = p.cand
               JOIN bi rb ON rb.doc_id = p.ref_id AND rb.g = cb.g
  GROUP BY p.cand, p.ref_id
)
SELECT p.cand, p.ref_id,
       CAST(COALESCE(ov1.m1, 0) AS BIGINT) AS m1,
       CAST(COALESCE(ov1.m1, 0) * 1000000 // ru.ulen AS BIGINT) AS r1_e6,
       CAST(2 * COALESCE(ov1.m1, 0) * 1000000 // (cu.ulen + ru.ulen)
            AS BIGINT) AS f1_e6,
       CAST(CASE WHEN cb.blen IS NOT NULL AND rb.blen IS NOT NULL
                 THEN COALESCE(ov2.m2, 0) END AS BIGINT) AS m2,
       CAST(COALESCE(ov2.m2, 0) * 1000000 // rb.blen AS BIGINT) AS r2_e6,
       CAST(2 * COALESCE(ov2.m2, 0) * 1000000 // (cb.blen + rb.blen)
            AS BIGINT) AS f2_e6
FROM pairs p
JOIN ulen cu ON cu.doc_id = p.cand
JOIN ulen ru ON ru.doc_id = p.ref_id
LEFT JOIN blen cb ON cb.doc_id = p.cand
LEFT JOIN blen rb ON rb.doc_id = p.ref_id
LEFT JOIN ov1 ON ov1.cand = p.cand AND ov1.ref_id = p.ref_id
LEFT JOIN ov2 ON ov2.cand = p.cand AND ov2.ref_id = p.ref_id
"""

register(q_rouge_pairs, SQL_ROUGE_PAIRS)


# ---------------------------------------------------------------------------
# q_rank_correlation — exact Kendall tau-a between two bounded rankings
# ---------------------------------------------------------------------------

_TAU_K = 20  # per-source sample bound: all-pairs work is sources · K²


def rank_agreement_of(d):
    """Kendall tau-a per source between the chars-ranking and the
    distinct-token-type ranking of the K smallest doc_ids, over a
    documents FRAME (frame-level so jobs.eval_report can reuse the
    lane).  Ranks are
    row_number (doc_id tiebreak ⇒ unique ⇒ no tau-b tie correction and
    C + D = K(K−1)/2 exactly); tau_e6 = (C − D)·1e6 div (C + D).  The
    K-bound applies BEFORE the pair join, so the only quadratic term
    is K² per source; sources with one selected doc emit no row (no
    pairs) on both engines."""
    w_sel = Window.partitionBy("source").orderBy("doc_id")
    t = (
        d.select(
            "source",
            "doc_id",
            "n_chars",
            F.size(F.array_distinct(text.tokens("text"))).alias("n_types"),
        )
        .withColumn("sel", F.row_number().over(w_sel))
        .where(F.col("sel") <= _TAU_K)
        .select(
            "source",
            "doc_id",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.col("n_chars").asc_nulls_first(), "doc_id"
                )
            )
            .alias("ra"),
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.col("n_types").asc_nulls_first(), "doc_id"
                )
            )
            .alias("rb"),
        )
    )
    x, y = t.alias("x"), t.alias("y")
    pairs = x.join(
        y,
        (F.col("x.source") == F.col("y.source"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.source").alias("source"),
        (
            (F.col("x.ra") - F.col("y.ra")) * (F.col("x.rb") - F.col("y.rb"))
            > 0
        )
        .cast("bigint")
        .alias("conc"),
    )
    return pairs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("conc").cast("bigint").alias("concordant"),
        (F.count(F.lit(1)) - F.sum("conc")).cast("bigint").alias("discordant"),
        F.expr("(2 * sum(conc) - count(*)) * 1000000 div count(*)")
        .cast("bigint")
        .alias("tau_e6"),
    )


def q_rank_correlation(spark, sf_dir):
    """Registry-facing wrapper: Kendall tau-a rank agreement over the
    sf_dir documents table (see ``rank_agreement_of``)."""
    return rank_agreement_of(_t(spark, sf_dir, "documents"))


SQL_RANK_CORRELATION = f"""
WITH sel AS (
  SELECT source, doc_id, n_chars,
         len(list_distinct({TOKS_SQL.format(c='text')})) AS n_types,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS sel
  FROM documents
), t AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars NULLS FIRST, doc_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_types NULLS FIRST, doc_id) AS rb
  FROM sel WHERE sel <= {_TAU_K}
), pairs AS (
  SELECT x.source,
         CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0 THEN 1 ELSE 0 END
             AS conc
  FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(conc) AS BIGINT) AS concordant,
       CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant,
       CAST((2 * SUM(conc) - COUNT(*)) * 1000000 // COUNT(*) AS BIGINT)
           AS tau_e6
FROM pairs GROUP BY source
"""

register(q_rank_correlation, SQL_RANK_CORRELATION)


# ---------------------------------------------------------------------------
# q_blocklist_filter — C4-style badword gate, per-source accounting
# ---------------------------------------------------------------------------

# Mix of a rare marker ('dup'), a frequent term ('spark') and a word the
# corpus never carries ('warp') — the gate must count occurrences, not
# just presence, and an absent word must cost nothing.
_BLOCKLIST: tuple[str, ...] = ("dup", "spark", "warp")


def blocklist_stats_of(d):
    """Per-source blocklist accounting over a documents FRAME
    (frame-level so jobs.eval_report can reuse the lane): docs flagged
    (≥1 blocked-token
    occurrence), total blocked occurrences, kept docs, and the flagged
    share in basis points.  The blocklist is a compile-time literal in
    a JVM lambda filter — no join, no Python, and the only shuffle is
    the final per-source aggregate.  NULL text is a clean doc (0 hits,
    0 tokens) on both engines."""
    in_list = ", ".join(f"'{w}'" for w in _BLOCKLIST)
    per_doc = d.select(
        "source", text.tokens("text").alias("toks")
    ).select(
        "source",
        F.coalesce(
            F.expr(f"size(filter(toks, t -> t IN ({in_list})))"), F.lit(0)
        ).alias("hits"),
        F.coalesce(F.size("toks"), F.lit(0)).alias("n_toks"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("hits") > 0).cast("bigint"))
        .cast("bigint")
        .alias("n_flagged"),
        F.sum("hits").cast("bigint").alias("hit_tokens"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.expr("sum(CASE WHEN hits > 0 THEN 0 ELSE 1 END)")
        .cast("bigint")
        .alias("kept_docs"),
        F.expr(
            "sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 10000 div count(*)"
        )
        .cast("bigint")
        .alias("flagged_share_e4"),
    )


def q_blocklist_filter(spark, sf_dir):
    """Registry-facing wrapper: blocklist accounting over the sf_dir
    documents table (see ``blocklist_stats_of``)."""
    return blocklist_stats_of(_t(spark, sf_dir, "documents"))


_BL_IN = ", ".join(f"'{w}'" for w in _BLOCKLIST)

SQL_BLOCKLIST_FILTER = f"""
WITH per_doc AS (
  SELECT source,
         COALESCE(len(list_filter({TOKS_SQL.format(c='text')},
                                  t -> t IN ({_BL_IN}))), 0) AS hits,
         COALESCE(len({TOKS_SQL.format(c='text')}), 0) AS n_toks
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
       CAST(SUM(hits) AS BIGINT) AS hit_tokens,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN hits > 0 THEN 0 ELSE 1 END) AS BIGINT)
           AS kept_docs,
       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS flagged_share_e4
FROM per_doc GROUP BY source
"""

register(q_blocklist_filter, SQL_BLOCKLIST_FILTER)
