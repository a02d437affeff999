"""Extended inventory XIX — shuffle/shard, dedup evaluation, embedding
health, PMI association.

Round-3 fourth pass: the remaining measurement-and-layout operators of a
training-data curation stack, each on an engine-portable integer lane and
hash-checked end-to-end:

- ``q_global_shuffle`` — deterministic corpus permutation + round-robin
  shard plan: md5-keyed shard assignment with a per-shard ``row_number``
  (windows parallel across shards — never a single global sort), audited
  by an order checksum so the PERMUTATION itself is value-verified.
- ``q_dedup_recall`` — recall/precision of the banded MinHash-LSH
  candidate path against exact within-block n-gram-Jaccard ground truth
  (the "measure, don't guess" harness for the dedup stack), ppm lanes.
- ``q_embedding_dim_stats`` — per-dimension corpus profile (mean /
  variance / range in scaled-integer lanes) that catches collapsed or
  exploding embedding dimensions before they poison ANN recall.
- ``q_pmi_bigrams`` — pointwise mutual information over corpus bigrams:
  every log is of an integer count (the q_doc_ppl_bigram lane), margins
  come from the bigram table itself, totals ride a broadcast cross join.

Reference parity note: the reference pipeline
(/root/reference/glue_job_scripts/etl-glue-nyc-yellow-data-model.py) has
no analytics layer — these operators extend the engine toward the
large-scale curation workload described in SURVEY.md §2's north star.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import dedup
from .operators.materialize import materialize
from .queries_ext13 import (
    _BAND_COLS_SQL,
    _BAND_UNION_SQL,
    _MH_BANDS,
    _MH_K,
    _MH_N,
    _MH_TAU,
    _MINHASH_COLS_SQL,
    _SHINGLES_SQL,
)
from .registry import register
from .tables import TOKS_SQL, _t


# --------------------------------------------------------------------------
# Deterministic global shuffle + shard plan
# --------------------------------------------------------------------------

_N_SHARDS = 8  # test-scale; a 100 TB corpus uses O(100k) shards — the plan
# shape is invariant: shard count only widens the window partitioning.


def q_global_shuffle(spark, sf_dir):
    """Deterministic training-order shuffle: every doc gets a pseudorandom
    md5 sort key, a round-robin shard (first 8 hex chars mod N — uniform),
    and a within-shard position via ``row_number`` PARTITIONED BY shard —
    the permutation is (shard, pos), reproducible across runs, engines and
    partitionings, and there is never a one-task global sort: windows run
    in parallel across shards, so the plan scales with shard count.  The
    output is the per-shard audit a dataset release needs (docs, chars,
    head doc) plus an order CHECKSUM — sum(pos · (doc_id mod p)) — that
    value-verifies the positions themselves, not just the partition sizes.
    """
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("key"),
    ).withColumn(
        "shard",
        F.conv(F.substring("key", 1, 8), 16, 10).cast("bigint") % _N_SHARDS,
    )
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    pos = F.row_number().over(w).cast("bigint")
    return (
        keyed.withColumn("pos", pos)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min_by("doc_id", "key").alias("head_doc_id"),
            # the raw Σ pos·(doc_id mod p) grows O(n_shard²·p) and blows
            # int64 around 6M docs/shard — accumulate in DECIMAL(38,0)
            # (oracle: HUGEINT) and publish the sum mod p, which stays a
            # well-defined permutation check at any shard size
            F.pmod(
                F.sum(
                    F.col("pos").cast("decimal(38,0)")
                    * F.pmod(F.col("doc_id"), F.lit(1000003))
                ),
                F.lit(1000003),
            )
            .cast("bigint")
            .alias("order_checksum"),
        )
    )


SQL_GLOBAL_SHUFFLE = f"""
WITH k AS (
  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS key,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % {_N_SHARDS} AS shard
  FROM documents
), p AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
            AS pos
  FROM k
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       arg_min(doc_id, key) AS head_doc_id,
       CAST(SUM(CAST(pos AS HUGEINT) * (doc_id % 1000003)) % 1000003
            AS BIGINT) AS order_checksum
FROM p GROUP BY shard
"""

register(q_global_shuffle, SQL_GLOBAL_SHUFFLE)


# --------------------------------------------------------------------------
# Dedup-stack evaluation: LSH recall vs exact blocked ground truth
# --------------------------------------------------------------------------

def q_dedup_recall(spark, sf_dir):
    """Recall/precision of the md5-lane MinHash-LSH candidate generator
    against EXACT within-source n-gram-Jaccard ground truth at τ=0.5 —
    the eval harness that justifies the banded path's parameters (k=12,
    b=4 → s-curve threshold ≈ 0.56).  Ground truth enumerates all
    same-source pairs (per-block O(m²): an eval-time computation run on a
    block-bounded sample at scale, never the production dedup path — the
    docstring contract in operators/dedup.ngram_jaccard_pairs).  Hits are
    LSH-verified pairs restricted to the same blocks, so
    recall = hits/truth and precision = hits/candidates, both exact
    integer ppm lanes.  Signatures are computed once and cached; every
    join is keyed (band hash / id / source) — no cross join anywhere."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        dedup.shingles("text", _MH_N).alias("sh"),
    ).cache()
    # Ground truth via the shingle INVERTED INDEX, not a block cross join:
    # only co-shingled pairs can reach jaccard ≥ τ, and |A∩B| is a count
    # over shared shingle keys — no per-pair array intersect ever runs.
    # (The DuckDB oracle states the same truth set declaratively; results
    # are identical because a pair with no shared shingle has jaccard 0.)
    ex = base.select("id", "source", F.explode("sh").alias("s"))
    sizes = base.select("id", F.size("sh").alias("sz"))
    co = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    truth = (
        co.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .filter(
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            >= _MH_TAU
        )
        .agg(F.count(F.lit(1)).alias("n_truth"))
    )
    sigs = dedup.minhash_signatures(
        docs, num_hashes=_MH_K, shingle_n=_MH_N, lane="md5"
    ).cache()
    cands = dedup.minhash_lsh_candidates(sigs, _MH_K, _MH_BANDS, "md5")
    sh = sigs.select("id", "shingles")
    src = docs.select(F.col("doc_id").alias("id"), "source")
    cand_full = (
        cands.join(
            sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), "id_a"
        )
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), "id_b")
        .join(src.withColumnsRenamed({"id": "id_a", "source": "src_a"}), "id_a")
        .join(src.withColumnsRenamed({"id": "id_b", "source": "src_b"}), "id_b")
        .filter(F.col("src_a") == F.col("src_b"))
    )
    cand_j = (
        F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
        / F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    )
    n_cand = cand_full.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = cand_full.filter(
        (F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))) > 0)
        & (cand_j >= _MH_TAU)
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        truth.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.expr(
                "CASE WHEN n_truth > 0 THEN n_hit * 1000000 div n_truth "
                "ELSE 0 END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN n_cand > 0 THEN n_hit * 1000000 div n_cand "
                "ELSE 0 END"
            ).alias("precision_ppm"),
        )
    )


_RAW_J_SQL = (
    "CASE WHEN len(list_distinct(list_concat({a}, {b}))) > 0 "
    "THEN CAST(len(list_intersect({a}, {b})) AS DOUBLE) "
    "/ len(list_distinct(list_concat({a}, {b}))) ELSE 0.0 END"
)

SQL_DEDUP_RECALL = f"""
WITH base AS (
    SELECT doc_id AS id, source, {TOKS_SQL.format(c='text')} AS toks
    FROM documents
), shs AS (
    SELECT id, source, {_SHINGLES_SQL} AS sh FROM base
), truth AS (
    SELECT COUNT(*) AS n_truth
    FROM shs a JOIN shs b ON a.source = b.source AND a.id < b.id
    WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
      AND {_RAW_J_SQL.format(a='a.sh', b='b.sh')} >= {_MH_TAU}
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
    SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.id < b.id
), candsrc AS (
    SELECT c.*
    FROM cand c
    JOIN shs sa ON sa.id = c.id_a
    JOIN shs sb ON sb.id = c.id_b
    WHERE sa.source = sb.source
), nc AS (
    SELECT COUNT(*) AS n_cand FROM candsrc
), nh AS (
    SELECT COUNT(*) AS n_hit FROM candsrc
    WHERE len(list_distinct(list_concat(sh_a, sh_b))) > 0
      AND {_RAW_J_SQL.format(a='sh_a', b='sh_b')} >= {_MH_TAU}
)
SELECT n_truth, n_cand, n_hit,
       CASE WHEN n_truth > 0 THEN n_hit * 1000000 // n_truth ELSE 0 END
           AS recall_ppm,
       CASE WHEN n_cand > 0 THEN n_hit * 1000000 // n_cand ELSE 0 END
           AS precision_ppm
FROM truth, nc, nh
"""

register(q_dedup_recall, SQL_DEDUP_RECALL)


# --------------------------------------------------------------------------
# Embedding-dimension health profile
# --------------------------------------------------------------------------

def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding profile — n, mean, variance, range — the
    monitoring query that catches collapsed (zero-variance) or exploding
    dimensions before they poison ANN recall.  Lane: each float widens
    exactly to double, scales to an e4 integer with floor(x·1e4 + 0.5)
    (the q_embedding_quantize round-half-up), and every aggregate is then
    EXACT integer arithmetic — order-free under any partitioning.  The
    mean/variance divisions run in doubles only after the integer
    numerators are bounded < 2^53 (exactly representable), so both
    engines compute identical bits.  Plan: one explode, one keyed
    aggregate with map-side partials — a single shuffle on the 0..dims-1
    key at any corpus size."""
    e = _t(spark, sf_dir, "embeddings")
    v_e4 = F.floor(F.col("v").cast("double") * 1e4 + F.lit(0.5)).cast("bigint")
    per = e.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", v_e4.alias("ve4")
    )
    # s/ss and the n·ss − s² numerator ride DECIMAL(38,0) (oracle:
    # HUGEINT) — the BIGINT lane overflows once n·ss passes 2^63, which
    # a ~3e5-row dimension group with large values already reaches; the
    # final division runs in doubles on BOTH engines with the identical
    # op sequence, so the engines stay bit-aligned even past 2^53
    agg = per.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ve4").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("ve4").cast("decimal(38,0)") * F.col("ve4")).alias("ss"),
        F.min("ve4").alias("min_e4"),
        F.max("ve4").alias("max_e4"),
    )
    mean_e4 = F.floor(F.col("s").cast("double") / F.col("n")).cast("bigint")
    var_e8 = F.floor(
        (
            F.col("n").cast("decimal(38,0)") * F.col("ss")
            - F.col("s") * F.col("s")
        ).cast("double")
        / (F.col("n").cast("double") * F.col("n"))
    ).cast("bigint")
    return agg.select(
        "dim",
        "n",
        mean_e4.alias("mean_e4"),
        var_e8.alias("var_e8"),
        "min_e4",
        "max_e4",
    )


SQL_EMBEDDING_DIM_STATS = """
WITH per AS (
  SELECT i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e4 + 0.5) AS BIGINT)
             AS ve4
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), agg AS (
  SELECT dim, COUNT(*) AS n, SUM(ve4) AS s,
         SUM(CAST(ve4 AS HUGEINT) * ve4) AS ss,
         MIN(ve4) AS min_e4, MAX(ve4) AS max_e4
  FROM per GROUP BY dim
)
SELECT dim, n,
       CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS mean_e4,
       CAST(floor(CAST(n * ss - s * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS var_e8,
       min_e4, max_e4
FROM agg
"""

register(q_embedding_dim_stats, SQL_EMBEDDING_DIM_STATS)


# --------------------------------------------------------------------------
# PMI bigram association
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


def q_pmi_bigrams(spark, sf_dir):
    """Corpus bigram PMI — log2(c_xy · N / (c_x· · c_·y)) with margins
    taken from the bigram table itself — the collocation/association
    measure behind phrase mining and tokenizer diagnostics (a high-PMI
    pair is a merge candidate q_bpe_merge_train will discover).  Every
    log is of an integer count (the q_doc_ppl_bigram lane: both engines
    take bit-identical log2 of exact integers), the four-term sum is
    written in one fixed order so IEEE addition is reproducible, and the
    output lands in a floor(x·1e4 + 0.5) integer lane.  N rides a
    broadcast cross join (one row — no collect, no window).  Shuffles:
    bigram key, then two margin joins keyed on w1/w2."""
    d = _t(spark, sf_dir, "documents")
    from .operators import text

    toks = text.tokens("text")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
    )
    bg = d.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # ONE scan+tokenize pass: the margins and the total are integer
    # rollups of the bigram count table (4 corpus passes -> 1; log2
    # inputs stay the same exact integers)
    c2 = materialize(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")),
        "bigram counts: the margins and the total roll up from them",
    )
    cl = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("cl"))
    cr = c2.groupBy("w2").agg(F.sum("c2").cast("bigint").alias("cr"))
    tot = c2.agg(F.sum("c2").cast("bigint").alias("n_total"))
    pmi = (
        F.log2("c2") + F.log2("n_total") - F.log2("cl") - F.log2("cr")
    )
    return (
        c2.filter(F.col("c2") >= _PMI_MIN_COUNT)
        .join(cl, "w1")
        .join(cr, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c2",
            F.floor(pmi * 1e4 + F.lit(0.5)).cast("bigint").alias("pmi_e4"),
        )
    )


SQL_PMI_BIGRAMS = f"""
WITH tok AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents
), bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM tok, unnest(range(1, len(toks))) AS t(i)
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
), cl AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS cl FROM bg GROUP BY w1
), cr AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS cr FROM bg GROUP BY w2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM bg
)
SELECT w1, w2, c2,
       CAST(floor((log2(c2) + log2(n_total) - log2(cl) - log2(cr)) * 1e4
                  + 0.5) AS BIGINT) AS pmi_e4
FROM c2 JOIN cl USING (w1) JOIN cr USING (w2), tot
WHERE c2 >= {_PMI_MIN_COUNT}
"""

register(q_pmi_bigrams, SQL_PMI_BIGRAMS)
