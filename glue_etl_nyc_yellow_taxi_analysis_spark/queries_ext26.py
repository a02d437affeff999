"""Extended inventory XXVI — corpus-curation selection lanes (round 5).

Three selection mechanisms every large-scale pretraining pipeline runs
that the inventory did not yet declare, plus the per-language tokenizer
dial that prices them:

- DSIR-style importance weighting (Xie et al. 2023, "Data Selection via
  Importance Resampling"): hashed unigram-bucket likelihood ratio of a
  target slice vs the raw corpus, the standard cheap proxy for
  "looks like the target distribution".
- Per-domain cap sampling: deterministic hash-priority admission with a
  per-source cap — the anti-top-heavy-domain rule (C4/RefinedWeb style).
- CCNet-style perplexity bucketing (Wenzek et al. 2020): per-language
  head/middle/tail terciles of a language-model score, the classic
  quality stratification.
- Tokenizer fertility per language (BPE-ish tokens per whitespace word)
  — the dial that decides per-language token budgets.

All four stay in the proven determinism lanes: log2 of integer counts
summed through DECIMAL(27,18), md5-derived integer hash buckets, and
ppm integer division — bit-replicable on any engine and partitioning.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import text
from .operators.materialize import materialize
from .registry import register
from .tables import TOKS_SQL, _t


# --------------------------------------------------------------------------
# DSIR importance weights
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 256   # hashed feature dimensionality (paper uses 10k; kept
                      # oracle-writable — the plan shape is identical)
_DSIR_TARGET_LANG = "en"

# md5 → first 8 hex chars → BIGINT: the cross-engine integer hash lane
# (same construction the arrow/minhash oracles use)
_MD5I_SQL = "('0x' || substr(md5({c}), 1, 8))::BIGINT"


def _md5i(c):
    """First 32 bits of md5 as a non-negative BIGINT — identical on both
    engines (Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def dsir_weights_of(d):
    """DSIR importance weight per document over a documents FRAME
    (frame-level so jobs.pretrain_prep shares the lane with
    q_dsir_weights): mean per-token log2 likelihood ratio of the TARGET
    distribution (lang='en' docs) vs the RAW corpus, over hashed
    unigram buckets with add-one smoothing —
    w(d) = Σ_b c_d(b)·(log2(ct_b+1) − log2(cr_b+1)) / n_d
           − (log2(Nt+B) − log2(Nr+B)).

    Plan shape at 100 TB: ONE tokenize+explode pass builds the per-doc
    bucket counts (keyed shuffle on (doc_id, b) — the only corpus-sized
    shuffle), materialized so the expensive tokenize/hash chain
    never re-runs; the B-row bucket table and the two corpus totals
    derive from it (a 256-row aggregate, collected — bounded by B, not
    the corpus) and join back as a broadcast.  Every log is of an
    integer count and the per-doc sum rides DECIMAL(27,18) (the
    q_doc_logprob lane), so partial-agg order can't move the 4dp cut.
    """
    spark = d.sparkSession
    toks = d.select(
        "doc_id", "lang", F.explode(text.tokens("text")).alias("tok")
    ).select(
        "doc_id",
        "lang",
        F.pmod(_md5i(F.col("tok")), F.lit(_DSIR_BUCKETS)).alias("b"),
    )
    # lang is functionally dependent on doc_id — carrying it through the
    # grouping lets the bucket table derive from doc_counts
    doc_counts = materialize(
        toks.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("c")),
        "per-doc bucket counts: the bucket table and totals roll up from them",
    )
    bucket_rows = (
        doc_counts.groupBy("b")
        .agg(
            F.sum("c").alias("cr"),
            F.sum(
                F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("c")).otherwise(0)
            ).alias("ct"),
        )
        .collect()
    )  # ≤ B rows regardless of corpus size
    nr = sum(r.cr for r in bucket_rows)
    nt = sum(r.ct for r in bucket_rows)
    buckets = spark.createDataFrame(
        [(r.b, r.cr, r.ct) for r in bucket_rows], "b long, cr long, ct long"
    )
    per_tok = (F.col("c") * (F.log2(F.col("ct") + 1) - F.log2(F.col("cr") + 1))).cast(
        "decimal(27,18)"
    )
    const = (
        F.log2(F.lit(nt + _DSIR_BUCKETS)) - F.log2(F.lit(nr + _DSIR_BUCKETS))
    )
    return (
        doc_counts.join(F.broadcast(buckets), "b")
        .groupBy("doc_id")
        .agg(F.sum(per_tok).alias("s"), F.sum("c").alias("n"))
        .select(
            "doc_id",
            F.round(F.col("s").cast("double") / F.col("n") - const, 4).alias(
                "dsir_logratio"
            ),
        )
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights over the driver documents table — see
    ``dsir_weights_of`` for the math and the 100 TB plan shape."""
    return dsir_weights_of(_t(spark, sf_dir, "documents"))


SQL_DSIR_WEIGHTS = f"""
WITH tok AS (
  SELECT doc_id, lang,
         {_MD5I_SQL.format(c="unnest({t})").format(t=TOKS_SQL.format(c='text'))}
           % {_DSIR_BUCKETS} AS b
  FROM documents
), raw AS (
  SELECT b, COUNT(*) AS cr FROM tok GROUP BY b
), tgt AS (
  SELECT b, COUNT(*) AS ct FROM tok
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
), buckets AS (
  SELECT raw.b, cr, COALESCE(ct, 0) AS ct FROM raw LEFT JOIN tgt USING (b)
), totals AS (
  SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM buckets
), doc_counts AS (
  SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY doc_id, b
)
SELECT doc_id,
       ROUND(CAST(SUM(CAST(c * (LOG2(ct + 1) - LOG2(cr + 1))
                           AS DECIMAL(27,18))) AS DOUBLE) / SUM(c)
             - (LOG2(nt + {_DSIR_BUCKETS}) - LOG2(nr + {_DSIR_BUCKETS})), 4)
           AS dsir_logratio
FROM doc_counts JOIN buckets USING (b), totals
GROUP BY doc_id, nt, nr
"""

register(q_dsir_weights, SQL_DSIR_WEIGHTS)


# --------------------------------------------------------------------------
# Per-domain cap sampling
# --------------------------------------------------------------------------

_DOMAIN_CAP = 20  # max docs admitted per source


def q_domain_cap(spark, sf_dir):
    """Per-domain cap admission: every document gets a deterministic
    hash priority; each source keeps its ``_DOMAIN_CAP`` best-priority
    docs and drops the rest — the anti-top-heavy-domain sampling rule
    (one over-crawled domain must not dominate the mixture).

    One keyed shuffle on source; the per-source window ranks
    |domain|-bounded groups.  A pathologically hot domain is the
    documented skew case — salting or the two-phase top-k applies, and
    the hash priority (not recency/position) makes the kept subset
    stable across reruns and engine choice."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        d.select(
            "doc_id",
            "source",
            _md5i(F.col("doc_id").cast("string")).alias("priority"),
        )
        .withColumn("cap_rank", F.row_number().over(w).cast("long"))
        .select(
            "doc_id",
            "source",
            "cap_rank",
            F.when(F.col("cap_rank") <= _DOMAIN_CAP, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("kept"),
        )
    )


SQL_DOMAIN_CAP = f"""
WITH pri AS (
  SELECT doc_id, source,
         {_MD5I_SQL.format(c='doc_id::VARCHAR')} AS priority
  FROM documents
)
SELECT doc_id, source,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY priority, doc_id) AS BIGINT)
         AS cap_rank,
       CAST(CASE WHEN row_number() OVER (PARTITION BY source
                                         ORDER BY priority, doc_id)
                      <= {_DOMAIN_CAP}
                 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM pri
"""

register(q_domain_cap, SQL_DOMAIN_CAP)


# --------------------------------------------------------------------------
# Tokenizer fertility per language
# --------------------------------------------------------------------------

def q_token_fertility(spark, sf_dir):
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word (ppm integer lane) — the dial that converts per-language
    document budgets into token budgets (high-fertility scripts cost
    more tokens per word).  One narrow keyed aggregate; the DECIMAL(38,0)
    widening before the ppm scaling keeps the division exact past the
    int64 token counts a 100 TB corpus carries."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(text.token_count("text").cast("long")).alias("n_words"),
            F.sum(text.bpe_token_count("text").cast("long")).alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            F.expr(
                "CAST(CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV NULLIF(n_words, 0) AS BIGINT)"
            ).alias("fertility_ppm"),
        )
    )


SQL_TOKEN_FERTILITY = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(len({TOKS_SQL.format(c='text')}) AS BIGINT)) AS BIGINT)
           AS n_words,
       CAST(SUM(CAST(len(regexp_extract_all(text,
                '{text.BPE_TOKEN_PATTERN.replace("'", "''")}')) AS BIGINT))
            AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(CAST(len(regexp_extract_all(text,
                '{text.BPE_TOKEN_PATTERN.replace("'", "''")}')) AS BIGINT))
              * 1000000
            // NULLIF(SUM(CAST(len({TOKS_SQL.format(c='text')}) AS BIGINT)), 0)
            AS BIGINT) AS fertility_ppm
FROM documents
GROUP BY lang
"""

register(q_token_fertility, SQL_TOKEN_FERTILITY)


# --------------------------------------------------------------------------
# CCNet-style perplexity buckets
# --------------------------------------------------------------------------

def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style quality stratification (Wenzek et al. 2020): per
    language, rank documents by the unigram-LM score (q_doc_logprob's
    hash-proven lane) and cut head/middle/tail terciles with ntile(3) —
    bucket 1 = most-fluent third, 3 = tail.  The LM scoring is the
    corpus-sized work; the tercile cut is one keyed window over
    per-language partitions (ntile semantics are identical in Spark and
    ANSI SQL).  Ordering is total (score DESC NULLS LAST, doc_id) so the
    cut is bit-replicable."""
    from .queries_ext15 import q_doc_logprob

    scores = q_doc_logprob(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.desc_nulls_last("mean_logprob"), "doc_id"
    )
    return (
        scores.join(d, "doc_id")
        .select(
            "doc_id",
            "lang",
            "mean_logprob",
            F.ntile(3).over(w).cast("long").alias("ppl_bucket"),
        )
    )


SQL_CCNET_BUCKETS = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS_SQL.format(c='text')}) AS tok FROM documents
), corpus AS (
  SELECT tok, COUNT(*) AS cc FROM tok GROUP BY tok
), doc_counts AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
), scores AS (
  SELECT doc_id,
         ROUND(CAST(SUM(CAST(c * LOG2(cc) AS DECIMAL(27,18))) AS DOUBLE)
               / SUM(c)
               - LOG2((SELECT CAST(COUNT(*) AS DOUBLE) FROM tok)), 4)
             AS mean_logprob
  FROM doc_counts JOIN corpus USING (tok)
  GROUP BY doc_id
)
SELECT s.doc_id, d.lang, s.mean_logprob,
       CAST(ntile(3) OVER (PARTITION BY d.lang
                           ORDER BY s.mean_logprob DESC NULLS LAST, s.doc_id)
            AS BIGINT) AS ppl_bucket
FROM scores s JOIN documents d ON s.doc_id = d.doc_id
"""

register(q_ccnet_buckets, SQL_CCNET_BUCKETS)


# --------------------------------------------------------------------------
# MinHash estimator calibration
# --------------------------------------------------------------------------

def q_minhash_calibration(spark, sf_dir):
    """MinHash estimator accuracy audit: for every LSH candidate pair
    (md5 lane, the ext13 k=12/4-band family), compare the SIGNATURE
    estimate of Jaccard (agreeing lanes / k) against the exact value,
    bucketed by exact-Jaccard tenth — the measure-don't-guess dial that
    tells you whether k hashes are enough before trusting the estimator
    at 100 TB (where exact verification of every candidate is the cost
    you're trying to shed).  Everything is exact integer ppm: lane
    agreement is a zip_with count, exact Jaccard is |∩|·1e6 div |∪|.

    One banding self-join (bounded buckets, never all-pairs) + two
    broadcast-scale join-backs to the signature table; the output is a
    ≤11-row error profile."""
    from .operators import dedup
    from .queries_ext13 import _MH_BANDS, _MH_K, _MH_N

    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, num_hashes=_MH_K, shingle_n=_MH_N, lane="md5"
    ).cache()
    cands = dedup.minhash_lsh_candidates(
        sigs, num_hashes=_MH_K, bands=_MH_BANDS, lane="md5"
    )
    a = sigs.select(
        F.col("id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("minhash_sig").alias("sig_a"),
    )
    b = sigs.select(
        F.col("id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("minhash_sig").alias("sig_b"),
    )
    n_eq = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda t: t
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            # non-negative operands, so Spark's truncating `div` and
            # DuckDB's flooring `//` agree
            F.expr(f"CAST({_MH_K} AS BIGINT)").alias("_k"),
            n_eq.cast("long").alias("n_eq"),
            inter.alias("i"),
            union.alias("u"),
        )
        .select(
            F.expr("n_eq * 1000000 div _k").alias("est_ppm"),
            F.when(F.col("u") > 0, F.expr("i * 1000000 div u"))
            .otherwise(F.lit(0).cast("long"))
            .alias("exact_ppm"),
        )
    )
    err = F.abs(F.col("est_ppm") - F.col("exact_ppm"))
    profile = (
        pairs.groupBy(F.expr("exact_ppm div 100000").alias("jaccard_tenth"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(abs(est_ppm - exact_ppm)) div count(1)").alias(
                "mean_abs_err_ppm"
            ),
            F.max(err).alias("max_abs_err_ppm"),
        )
    )
    # ≤11-row error profile: materialize it here so the signature cache
    # can be released immediately instead of leaking storage memory for
    # the rest of the session (r5 advisory) — same bounded-collect
    # pattern as q_mmr_rerank's k-bounded state.
    rows = profile.collect()
    sigs.unpersist()
    return spark.createDataFrame(
        rows, "jaccard_tenth long, n_pairs long, "
        "mean_abs_err_ppm long, max_abs_err_ppm long"
    )


def _sql_minhash_calibration() -> str:
    """Oracle: replays signatures/banding/candidates through the shared
    ext13 md5-lane CTE parts, then computes both ppm lanes in SQL."""
    from .queries_ext13 import (
        _BAND_COLS_SQL,
        _BAND_UNION_SQL,
        _MH_K,
        _MINHASH_COLS_SQL,
        _SHINGLES_SQL,
    )

    n_eq_sql = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_MH_K)
    )
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
        {_BAND_UNION_SQL}
    )
), cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
), paired AS (
    SELECT ({n_eq_sql}) AS n_eq,
           len(list_intersect(sa.sh, sb.sh)) AS i,
           len(list_distinct(list_concat(sa.sh, sb.sh))) AS u
    FROM cand c JOIN sigs sa ON c.id_a = sa.id JOIN sigs sb ON c.id_b = sb.id
), ppm AS (
    SELECT CAST(n_eq AS BIGINT) * 1000000 // {_MH_K} AS est_ppm,
           CASE WHEN u > 0 THEN CAST(i AS BIGINT) * 1000000 // u
                ELSE 0 END AS exact_ppm
    FROM paired
)
SELECT CAST(exact_ppm // 100000 AS BIGINT) AS jaccard_tenth,
       COUNT(*) AS n_pairs,
       CAST(SUM(ABS(est_ppm - exact_ppm)) // COUNT(*) AS BIGINT)
           AS mean_abs_err_ppm,
       CAST(MAX(ABS(est_ppm - exact_ppm)) AS BIGINT) AS max_abs_err_ppm
FROM ppm GROUP BY 1
"""


register(q_minhash_calibration, _sql_minhash_calibration())
