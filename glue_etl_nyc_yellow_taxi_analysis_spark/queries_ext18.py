"""Extended inventory XVIII — split/containment/PCA/compaction/calibration.

Round-3 third pass: the remaining table-stakes operators of a
training-data curation stack, every one on an engine-portable lane and
hash-checked end-to-end:

- ``q_train_split`` — deterministic md5 train/val/test carve + audit.
- ``q_containment_dedup`` — DIRECTED shingle containment (|A∩B|/|A|),
  the quote/excerpt-dedup signal Jaccard misses, ppm integer lane.
- ``q_pca_power`` — top principal direction by matrix-free power
  iteration on the exact decimal lane, generated chained-CTE oracle
  (the q_kmeans_oracle pattern applied to spectral methods).
- ``q_compaction_plan`` — small-file compaction planning per partition,
  all-integer bin math.
- ``q_quality_calibration`` — quality-classifier logit bands vs the
  embedding gold labels, milli integer lane.
- ``q_doc_ppl_bigram`` — per-doc BIGRAM-LM (add-1 smoothed) mean
  logprob: the conditional upgrade of q_doc_logprob's unigram score,
  with each log term routed through DECIMAL so the per-doc sum is
  order-free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .operators.dedup import containment_pairs
from .operators.materialize import materialize
from .operators.similarity import pca_power_exact
from .registry import register
from .tables import TOKS_SQL, _t


# --------------------------------------------------------------------------
# Deterministic train/val/test split + audit
# --------------------------------------------------------------------------

def q_train_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test carve of the document corpus
    keyed on md5(doc_id) (the q_hash_sample bucket lane: reproducible
    across runs, engines, partitionings — rand() splits are not), with
    the release audit per (split, source): docs, chars, languages, id
    range.  One scan, one keyed aggregate; the split column is a pure
    map so it pushes down and never shuffles by itself.  Disjointness
    and totality are structural (bucket < 80 / < 90 / else)."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "source", "n_chars", "lang", "doc_id")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


SQL_TRAIN_SPLIT = """
WITH b AS (
  SELECT CASE WHEN bkt < 80 THEN 'train'
              WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
         source, n_chars, lang, doc_id
  FROM (
    SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bkt,
           source, n_chars, lang, doc_id
    FROM documents)
)
SELECT split, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT lang) AS n_langs,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM b GROUP BY split, source
"""

register(q_train_split, SQL_TRAIN_SPLIT)


# --------------------------------------------------------------------------
# Directed shingle containment — quote/excerpt dedup
# --------------------------------------------------------------------------

_CT_K = 12
_CT_BANDS = 4
_CT_N = 3
_CT_TAU_PPM = 300_000


def q_containment_dedup(spark, sf_dir):
    """Directed containment pairs |A∩B| div |A| ≥ 0.3 over 3-shingle
    sets, candidates from the md5-lane MinHash-LSH banding
    (operators/dedup.containment_pairs): the asymmetric-duplication
    signal — a short doc quoted whole inside a long one scores
    containment ≈ 1 while Jaccard stays low.  Verification is the exact
    integer ppm lane (inter · 1e6 div |src|), bit-identical in any
    engine; candidate generation is banded, never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(
        docs,
        num_hashes=_CT_K,
        bands=_CT_BANDS,
        shingle_n=_CT_N,
        tau_ppm=_CT_TAU_PPM,
        lane="md5",
    )


_CT_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "range(0, greatest(len(toks) - {n}, 0) + 1), "
    "i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' ')))"
).format(n=_CT_N)

_CT_MINHASH_COLS_SQL = ",\n           ".join(
    f"list_min(list_transform(sh, s -> md5('{i}|' || s))) AS h{i}"
    for i in range(_CT_K)
)

_CT_BAND_ROWS = _CT_K // _CT_BANDS
_CT_BAND_COLS_SQL = ",\n           ".join(
    "md5("
    + " || '|' || ".join(f"h{b * _CT_BAND_ROWS + r}" for r in range(_CT_BAND_ROWS))
    + f") AS band{b}"
    for b in range(_CT_BANDS)
)
_CT_BAND_UNION_SQL = "\n        UNION ALL\n        ".join(
    f"SELECT id, sh, {b} AS band_idx, band{b} AS band_hash FROM bands"
    for b in range(_CT_BANDS)
)

SQL_CONTAINMENT_DEDUP = f"""
WITH base AS (
    SELECT doc_id AS id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), shs AS (
    SELECT id, {_CT_SHINGLES_SQL} AS sh FROM base
), sigs AS (
    SELECT id, sh,
           {_CT_MINHASH_COLS_SQL}
    FROM shs
), bands AS (
    SELECT id, sh,
           {_CT_BAND_COLS_SQL}
    FROM sigs
), banded AS (
    SELECT id, sh, band_idx, band_hash FROM (
        {_CT_BAND_UNION_SQL}
    )
), cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
), directed AS (
    SELECT id_a AS src_id, id_b AS dst_id, len(sh_a) AS n_src,
           len(list_intersect(sh_a, sh_b)) AS inter
    FROM cand
    UNION ALL
    SELECT id_b, id_a, len(sh_b), len(list_intersect(sh_a, sh_b))
    FROM cand
)
SELECT src_id, dst_id, CAST(n_src AS INTEGER) AS n_src,
       CAST(inter AS INTEGER) AS inter,
       CAST(inter * 1000000 // n_src AS BIGINT) AS containment_ppm
FROM directed
WHERE n_src > 0 AND inter * 1000000 // n_src >= {_CT_TAU_PPM}
"""

register(q_containment_dedup, SQL_CONTAINMENT_DEDUP)


# --------------------------------------------------------------------------
# PCA power iteration — exact lane, generated chained-CTE oracle
# --------------------------------------------------------------------------

_PCA_ITERS = 3
_PCA_DIMS = 64

# the q_kmeans_oracle double→decimal bridge: Spark's double→decimal cast
# goes through the shortest repr; DuckDB's VARCHAR hop is the same
# algorithm and string→decimal rounds HALF_UP in both engines
_PCA_DEC18 = "CAST(CAST({v} AS VARCHAR) AS DECIMAL(27,18))"


def q_pca_power(spark, sf_dir):
    """Top principal direction of the embedding matrix by 3-round power
    iteration (operators/similarity.pca_power_exact): each round is the
    matrix-free v' = Xᵀ(Xv) — per-row dot products in fixed-order double
    math, the per-dim accumulation routed through DECIMAL(27,18) so it is
    order-free — then one O(dims) normalize.  Never materializes the d×d
    covariance; two narrow dim-keyed shuffles per round at any scale.
    Output: (dim, loading_e9, eigval_e6) scaled-integer rows, replayed
    bit-for-bit by a generated chained-CTE oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return pca_power_exact(emb, iters=_PCA_ITERS)


def build_pca_oracle_sql(iters: int = _PCA_ITERS, dims: int = _PCA_DIMS) -> str:
    sstep = """, s{i} AS MATERIALIZED (
  SELECT dim,
         CAST(SUM({dec}) AS DOUBLE) AS s
  FROM (
    SELECT u.j - 1 AS dim, t * x[u.j] AS term
    FROM (
      SELECT x,
             list_sum(list_transform(range(1, len(x) + 1), j -> x[j] * v[j]))
                 AS t
      FROM emb, v{prev}),
      unnest(range(1, len(x) + 1)) AS u(j))
  GROUP BY dim
)"""
    vstep = """, v{i} AS MATERIALIZED (
  SELECT list_transform(sv, e -> e / sqrt(norm2)) AS v, norm2
  FROM (
    SELECT sv, list_sum(list_transform(sv, e -> e * e)) AS norm2
    FROM (
      SELECT list_transform(list_sort(list({{'dim': dim, 's': s}})), r -> r.s)
                 AS sv
      FROM s{i}))
)"""
    parts = [f"""
WITH emb AS MATERIALIZED (
  SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
), v0 AS (
  SELECT list_transform(range(1, {dims} + 1), i -> CAST(1.0 AS DOUBLE)) AS v
)"""]
    for i in range(1, iters + 1):
        parts.append(sstep.format(i=i, prev=i - 1, dec=_PCA_DEC18.format(v="term")))
        parts.append(vstep.format(i=i))
    parts.append(f"""
SELECT CAST(u.j - 1 AS INTEGER) AS dim,
       CAST(floor(v[u.j] * 1e9 + 0.5) AS BIGINT) AS loading_e9,
       CAST(floor(sqrt(norm2) * 1e6 + 0.5) AS BIGINT) AS eigval_e6
FROM v{iters}, unnest(range(1, len(v) + 1)) AS u(j)
""")
    return "".join(parts)


register(q_pca_power, build_pca_oracle_sql())


# --------------------------------------------------------------------------
# Compaction planning — the small-file problem as a query
# --------------------------------------------------------------------------

_CP_TARGET = 65_536  # notional target file size (bytes), sf-scaled


def q_compaction_plan(spark, sf_dir):
    """Compaction plan per ship-month partition of lineitem: estimated
    partition bytes (fixed numeric widths + measured string lengths),
    target file count at a 64 KiB notional file size, rows per file, and
    an undersized flag (partitions below half a target file — the
    merge-me list).  This is the maintenance pass every 100 TB table
    needs (small files destroy scan throughput); the plan itself is one
    scan + one keyed aggregate + integer bin math, so the planner costs
    one pass regardless of table size."""
    li = _t(spark, sf_dir, "lineitem")
    ym = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ship_ym")
    row_bytes = (
        F.lit(44) + F.length("l_returnflag") + F.length("l_linestatus")
    )
    g = li.select(ym, row_bytes.alias("row_bytes")).groupBy("ship_ym").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("row_bytes").cast("bigint").alias("est_bytes"),
    )
    n_files = F.expr(f"(est_bytes + {_CP_TARGET - 1}) div {_CP_TARGET}")
    return g.select(
        "ship_ym",
        "n_rows",
        "est_bytes",
        n_files.alias("n_files"),
        F.expr(f"n_rows div ((est_bytes + {_CP_TARGET - 1}) div {_CP_TARGET})")
        .alias("rows_per_file"),
        F.when(F.col("est_bytes") < _CP_TARGET // 2, 1).otherwise(0)
        .alias("undersized"),
    )


SQL_COMPACTION_PLAN = f"""
WITH g AS (
  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER)
             AS ship_ym,
         COUNT(*) AS n_rows,
         CAST(SUM(44 + length(l_returnflag) + length(l_linestatus)) AS BIGINT)
             AS est_bytes
  FROM lineitem
  GROUP BY 1
)
SELECT ship_ym, n_rows, est_bytes,
       (est_bytes + {_CP_TARGET - 1}) // {_CP_TARGET} AS n_files,
       n_rows // ((est_bytes + {_CP_TARGET - 1}) // {_CP_TARGET})
           AS rows_per_file,
       CASE WHEN est_bytes < {_CP_TARGET // 2} THEN 1 ELSE 0 END AS undersized
FROM g
"""

register(q_compaction_plan, SQL_COMPACTION_PLAN)


# --------------------------------------------------------------------------
# Quality-classifier calibration against gold labels
# --------------------------------------------------------------------------

def q_quality_calibration(spark, sf_dir):
    """Calibration table for the q_quality_classifier logit: documents
    join their gold labels (embeddings.label keyed vec_id = doc_id), the
    logit is banded by VALUE (floor(logit_centi / 100) — no global rank
    window, so no one-task sort at scale), and each band reports count,
    keep count, and mean gold label in the milli integer lane.  The
    model-monitoring half of model-based filtering: a calibrated model
    shows label mass rising with the band."""
    from .queries_ext16 import _QC_STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    toks = text.tokens("text")
    sw = F.array(*[F.lit(s) for s in _QC_STOPWORDS])
    logit = (
        F.lit(-300)
        + 2 * F.size(toks)
        + 25 * F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        + 8 * F.size(F.array_distinct(toks))
    )
    scored = docs.select(
        "doc_id", logit.cast("bigint").alias("logit_centi")
    ).join(emb, "doc_id")
    band = F.floor(F.col("logit_centi") / F.lit(100.0)).cast("bigint")
    return (
        scored.select(band.alias("logit_band"), "logit_centi", "label")
        .groupBy("logit_band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("logit_centi") > 0, 1).otherwise(0)).alias(
                "n_keep"
            ),
            F.sum("label").cast("bigint").alias("sum_label"),
            F.expr("CAST(sum(label) AS BIGINT) * 1000 div count(*)").alias(
                "mean_label_milli"
            ),
        )
    )


def _sql_quality_calibration() -> str:
    from .queries_ext16 import _QC_SW_SQL

    return f"""
WITH f AS (
  SELECT doc_id,
         -300 + 2 * len(toks)
              + 25 * len(list_filter(toks, x -> list_contains({_QC_SW_SQL}, x)))
              + 8 * len(list_distinct(toks)) AS logit_centi
  FROM (SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents)
), j AS (
  SELECT CAST(floor(logit_centi / 100.0) AS BIGINT) AS logit_band,
         logit_centi, e.label
  FROM f JOIN embeddings e ON f.doc_id = e.vec_id
)
SELECT logit_band, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN logit_centi > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_keep,
       CAST(SUM(label) AS BIGINT) AS sum_label,
       CAST(SUM(label) AS BIGINT) * 1000 // COUNT(*) AS mean_label_milli
FROM j GROUP BY logit_band
"""


register(q_quality_calibration, _sql_quality_calibration())


# --------------------------------------------------------------------------
# Bigram-LM document scoring — conditional upgrade of q_doc_logprob
# --------------------------------------------------------------------------

def q_doc_ppl_bigram(spark, sf_dir):
    """Per-doc mean BIGRAM logprob with add-1 smoothing: for each bigram
    occurrence, lp = log2(c(w1,w2) + 1) − log2(c(w1·) + V) under corpus
    counts — the conditional (KenLM-style) upgrade of q_doc_logprob's
    unigram score, and a sharper gibberish detector (random token salad
    has plausible unigrams but impossible bigrams).  Every log is of an
    integer count; each lp term routes through DECIMAL(27,18) so the
    per-doc sum is order-free (the kmeans/PCA exact-lane trick applied
    to logs), and the mean lands in a scaled-integer e4 lane — no ROUND
    on raw doubles anywhere.  Shuffles stay keyed on bigram / doc_id;
    the vocab size V is one scalar."""
    d = _t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    # tokenize ONCE: the old plan re-ran scan+tokenize per count table
    # (c2, c1, doc_bg, vocab — 4 corpus passes) and pulled the vocab
    # scalar to the driver with a collect() in the query path; every
    # table now derives from the tokenized docs, with the corpus
    # counts rolled up from the materialized doc_bg (integer sums —
    # exact) and vocab riding as a broadcast 1-row aggregate.
    tok = materialize(
        d.select("doc_id", toks.alias("toks")),
        "tokenized docs: every count table and the vocab derive from them",
    )
    n = F.size("toks")
    pairs = F.arrays_zip(
        F.slice("toks", 1, n - 1).alias("w1"),
        F.slice("toks", 2, n - 1).alias("w2"),
    )
    bg = tok.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    doc_bg = materialize(
        bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c")),
        "per-doc bigram counts: the corpus counts and the scores read them",
        eager=False,
    )
    c2 = materialize(
        doc_bg.groupBy("w1", "w2").agg(F.sum("c").cast("bigint").alias("c2")),
        "corpus bigram counts: c1 rolls up from them, the scores read them",
        eager=False,
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = tok.select(F.explode("toks").alias("t")).agg(
        F.countDistinct("t").alias("vocab")
    )
    lp = F.log2(F.col("c2") + 1) - F.log2(F.col("c1") + F.col("vocab"))
    return (
        doc_bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.floor(
                F.sum((F.col("c") * lp).cast("decimal(27,18)")).cast("double")
                / F.sum("c")
                * 1e4
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mean_lp_e4"),
        )
    )


def _sql_doc_ppl_bigram() -> str:
    dec = _PCA_DEC18.format(v="c * lp")
    return f"""
WITH tok AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM tok, unnest(range(1, len(toks))) AS t(i)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1
), v AS (
  SELECT COUNT(DISTINCT t) AS vocab
  FROM (SELECT unnest(toks) AS t FROM tok)
), doc_bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS c FROM bg GROUP BY doc_id, w1, w2
), terms AS (
  SELECT doc_id, c, log2(c2 + 1) - log2(c1 + vocab) AS lp
  FROM doc_bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(floor(CAST(SUM({dec}) AS DOUBLE) / SUM(c) * 1e4 + 0.5) AS BIGINT)
           AS mean_lp_e4
FROM terms GROUP BY doc_id
"""


register(q_doc_ppl_bigram, _sql_doc_ppl_bigram())
