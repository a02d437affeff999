"""Extended inventory XIV — training-data pipeline operators, round 2.

Five operators a 100 TB pretraining-data pipeline runs constantly, each
with a full DuckDB oracle:

- cross-doc boilerplate detection (shingle document-frequency → per-doc
  boilerplate ratio — the C4 "remove lines repeated across the corpus"
  move, on shingles since the synthetic docs are single-line);
- deterministic hash sampling (md5-bucket Bernoulli — reproducible
  train/eval splits with no RNG state, the only sane sampling at scale);
- int8 scalar quantization of embeddings (per-dim min/max → codes →
  reconstruction error — the memory-bound embedding-store lever);
- BPE-style adjacent-pair counting (the inner loop of tokenizer
  training);
- sequence packing by token budget (two-phase global running sum →
  pack id — the pretraining batch-shaping step; a bare SUM() OVER
  (ORDER BY) would be a one-task sort at scale, see
  operators/indexing.global_running_sum).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text
from .operators.indexing import global_running_sum
from .registry import register
from .tables import NORM_SQL, TOKS_SQL, _t


# --------------------------------------------------------------------------
# Cross-doc boilerplate: shingle document frequency → per-doc ratio
# --------------------------------------------------------------------------

_BP_DF = 20  # a shingle present in ≥ this many docs is boilerplate


def q_boilerplate_ratio(spark, sf_dir):
    """Per-document boilerplate ratio: fraction of a doc's distinct
    3-shingles that occur in ≥ 20 documents corpus-wide.  One explode +
    one groupBy(shingle) (the shuffle key is the shingle, map-side
    partial-counted), join back, re-aggregate per doc — the C4/RefinedWeb
    repeated-content filter expressed as two shuffles, no Python."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(text.shingles("text")).alias("s"))
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    flagged = sh.join(df_counts, "s").select(
        "doc_id", (F.col("df") >= _BP_DF).alias("is_bp")
    )
    # ratio as integer ppm (true integer division): bit-identical across
    # engines and immune to the driver's HUGEINT->float64 pandas lane
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("is_bp").cast("int")).cast("long").alias("n_boiler"),
        )
        .withColumn(
            "boiler_ppm",
            F.expr("CAST(n_boiler * 1000000 DIV n_shingles AS BIGINT)"),
        )
    )


SQL_BOILERPLATE_RATIO = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
             range(0, greatest(len(toks) - 3, 0) + 1),
             i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))) AS s
  FROM (SELECT doc_id, {TOKS_SQL.format(c='text')} AS toks FROM documents)
), dfc AS (
  SELECT s, COUNT(*) AS df FROM sh GROUP BY s
)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df >= {_BP_DF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler,
       CAST(SUM(CASE WHEN df >= {_BP_DF} THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS boiler_ppm
FROM sh JOIN dfc USING (s)
GROUP BY doc_id
"""

register(q_boilerplate_ratio, SQL_BOILERPLATE_RATIO)


# --------------------------------------------------------------------------
# Deterministic hash sampling
# --------------------------------------------------------------------------

def q_hash_sample(spark, sf_dir):
    """Deterministic 5% Bernoulli sample of orders keyed on
    md5(o_orderkey): bucket = first 8 md5 hex chars mod 100.  Unlike
    rand()-based sampling this is reproducible across runs, engines and
    partitionings — the standard way to carve stable train/eval splits
    from a 100 TB corpus (and it pushes down: no shuffle, one scan)."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return o.filter(bucket < 5).select("o_orderkey", "o_orderstatus", "o_totalprice")


SQL_HASH_SAMPLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 5
"""

register(q_hash_sample, SQL_HASH_SAMPLE)


# --------------------------------------------------------------------------
# int8 scalar quantization of embeddings
# --------------------------------------------------------------------------

def q_embedding_quantize(spark, sf_dir):
    """int8 scalar quantization: corpus-wide per-dimension [min, max]
    (exact order-free aggregates), code = floor((v-lo)/(hi-lo)*255 + 0.5),
    then per-vector reconstruction error.  The 4×-memory lever of every
    embedding store; bounds are a broadcast O(dims) table, so quantization
    is one scan.  floor(x+0.5) not round(): round() tie semantics differ
    across engines, floor is exact everywhere."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("dim", "val"))
    bounds = (
        dims.groupBy("dim")
        .agg(
            F.min("val").cast("double").alias("lo"),
            F.max("val").cast("double").alias("hi"),
        )
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("dim", "lo", "hi"))).alias("cells"))
        .select(
            F.transform("cells", lambda c: c.getField("lo")).alias("los"),
            F.transform("cells", lambda c: c.getField("hi")).alias("his"),
        )
    )
    # NB: Spark's floor() yields BIGINT and `BIGINT / 255.0` takes the
    # DECIMAL division path (255.0 parses as a decimal literal), which
    # rounds differently from the double lane DuckDB uses — the CAST to
    # DOUBLE keeps every op IEEE-identical across engines
    # Constant dimension (hi == lo, e.g. a padded/zeroed dim): reconstruct
    # as lo exactly, error 0 — the CASE guard keeps ANSI Spark from raising
    # DIVIDE_BY_ZERO where DuckDB would NULL-propagate (engines diverge).
    per_dim_sqerr = (
        "transform(sequence(0, size(embedding) - 1), i -> "
        " CASE WHEN element_at(his, i + 1) = element_at(los, i + 1) THEN 0.0D ELSE"
        " POW(CAST(element_at(embedding, i + 1) AS DOUBLE)"
        "  - (element_at(los, i + 1) + CAST(floor((CAST(element_at(embedding, i + 1) AS DOUBLE)"
        "       - element_at(los, i + 1)) / (element_at(his, i + 1) - element_at(los, i + 1))"
        "       * 255.0 + 0.5) AS DOUBLE) / 255.0 * (element_at(his, i + 1) - element_at(los, i + 1))), 2) END)"
    )
    # mse as a scaled integer (1e12 lane): floor(x*1e12 + 0.5) is the same
    # IEEE op sequence in both engines — bit-exact — where ROUND(double, 8)
    # ties on decimal halves differ between Spark (HALF_UP on the decimal
    # repr) and DuckDB (caught by the strict gate: 8.05e-7 rounded to
    # 8.1e-7 vs 8e-7)
    # empty-vector guard: sequence(0, size-1) with size 0 DESCENDS to
    # [0, -1] (Spark's start>stop default step is -1) and element_at
    # then probes the empty array — an empty vector has no MSE: NULL,
    # matching DuckDB's empty-list sums (degenerate-corpus sweep find)
    return (
        emb.crossJoin(F.broadcast(bounds))
        .select(
            "vec_id",
            F.when(
                F.size("embedding") > 0,
                F.floor(
                    F.expr(
                        f"aggregate({per_dim_sqerr}, 0.0D, (acc, x) -> acc + x)"
                    )
                    / F.size("embedding")
                    * F.lit(1e12)
                    + F.lit(0.5)
                ),
            )
            .cast("long")
            .alias("mse_e12"),
        )
    )


SQL_EMBEDDING_QUANTIZE = """
WITH bounds AS (
  SELECT i AS dim,
         MIN(CAST(embedding[i] AS DOUBLE)) AS lo,
         MAX(CAST(embedding[i] AS DOUBLE)) AS hi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
  GROUP BY i
), b AS (
  SELECT list_transform(list_sort(list({'dim': dim, 'lo': lo, 'hi': hi})),
                        r -> r.lo) AS los,
         list_transform(list_sort(list({'dim': dim, 'lo': lo, 'hi': hi})),
                        r -> r.hi) AS his
  FROM bounds
)
SELECT vec_id,
       CAST(floor(list_sum(list_transform(range(0, len(embedding)), i ->
           CASE WHEN his[i + 1] = los[i + 1] THEN 0.0 ELSE
           POW(CAST(embedding[i + 1] AS DOUBLE)
               - (los[i + 1] + floor((CAST(embedding[i + 1] AS DOUBLE) - los[i + 1])
                     / (his[i + 1] - los[i + 1]) * 255.0 + 0.5)
                   / 255.0 * (his[i + 1] - los[i + 1])), 2) END))
           / len(embedding) * 1e12 + 0.5) AS BIGINT) AS mse_e12
FROM embeddings, b
"""

register(q_embedding_quantize, SQL_EMBEDDING_QUANTIZE)


# --------------------------------------------------------------------------
# BPE-style adjacent pair counts
# --------------------------------------------------------------------------

def q_bpe_pair_counts(spark, sf_dir):
    """Top-20 adjacent token pairs across the corpus — the merge-candidate
    scoring pass at the heart of BPE tokenizer training.  Pair extraction
    stays in codegen (transform over an index sequence); one shuffle on
    the pair key with map-side partial counts."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("pair"))
        .limit(20)
    )


SQL_BPE_PAIR_COUNTS = f"""
SELECT pair, COUNT(*) AS cnt FROM (
  SELECT unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                i -> toks[i + 1] || ' ' || toks[i + 2])) AS pair
  FROM (SELECT {TOKS_SQL.format(c='text')} AS toks FROM documents)
)
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 20
"""

register(q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS)


# --------------------------------------------------------------------------
# Sequence packing by token budget
# --------------------------------------------------------------------------

_PACK_BUDGET = 512


def q_sequence_packing(spark, sf_dir):
    """Pack documents (ordered by doc_id) into fixed token-budget
    sequences: pack_id = floor(exclusive-running-token-count / 512).
    The running sum is the two-phase distributed plan
    (operators/indexing.global_running_sum) — never a bare global window.
    Output is per-pack shape accounting (docs, tokens), the thing a
    pretraining dataloader needs precomputed."""
    docs = _t(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", text.token_count("text").cast("long").alias("n_tokens")
    )
    cum = global_running_sum(with_counts, "doc_id", "n_tokens", out_col="cum_tokens")
    # true integer division (not floor of a double quotient): exact on
    # both engines at any corpus size
    packs = cum.withColumn(
        "pack_id",
        F.expr(f"CAST((cum_tokens - n_tokens) DIV {_PACK_BUDGET} AS BIGINT)"),
    )
    return packs.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SQL_SEQUENCE_PACKING = f"""
WITH counted AS (
  SELECT doc_id, CAST(len({TOKS_SQL.format(c='text')}) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             AS cum_tokens
  FROM counted
)
SELECT CAST((cum_tokens - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM cum
GROUP BY 1
"""

register(q_sequence_packing, SQL_SEQUENCE_PACKING)


# --------------------------------------------------------------------------
# Multimodal frame sampling — mapInPandas plumbing, oracle-checked
# --------------------------------------------------------------------------

def q_multimodal_framesample(spark, sf_dir):
    """Frame-sampling over binary payloads (documents packed as media:
    payload = utf-8 bytes): 32-byte frames, every 4th kept, per-frame md5 —
    the Arrow-batched mapInPandas path a video keyframe sampler uses.  The
    deterministic slicer makes the Python plumbing itself hash-verified
    against a pure-SQL replay (the docs are ASCII, so char and byte
    offsets coincide on the oracle side)."""
    from .operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    return multimodal.frame_sample(media, frame_size=32, every=4)


SQL_MULTIMODAL_FRAMESAMPLE = """
WITH m AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS nb
  FROM documents
)
SELECT media_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(least(32, nb - i * 32) AS INTEGER) AS frame_len,
       md5(substring(text, i * 32 + 1, 32)) AS frame_md5
FROM m, unnest(range(0, CAST(ceil(nb / 32.0) AS BIGINT), 4)) AS t(i)
"""

register(q_multimodal_framesample, SQL_MULTIMODAL_FRAMESAMPLE)


# --------------------------------------------------------------------------
# Exact-lane k-means — an ITERATIVE trainer with a full SQL oracle
# --------------------------------------------------------------------------

def q_kmeans_oracle(spark, sf_dir):
    """Lloyd's k-means (k=8, 3 iterations) on the exact lane
    (operators/similarity.kmeans_train_exact — the package's one loop,
    operators/pq.pq_fit, at m=1): decimal-summed centroid updates remove
    the one order-dependent float accumulation in distributed k-means,
    so the whole trainer — init, assignment, update, final model stats —
    is replayed by a generated chained-CTE oracle.  q_kmeans_train runs
    the same trainer against a bounds oracle."""
    from .operators.similarity import kmeans_train_exact

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_train_exact(emb, k=8, iters=3)


_KM_DIST = (
    "list_sum(list_transform(range(1, len({x}) + 1),"
    " i -> ({x}[i] - {c}[i]) * ({x}[i] - {c}[i])))"
)
# Spark double→decimal goes through the shortest double repr; DuckDB's
# VARCHAR cast is the same algorithm, and string→decimal rounds HALF_UP in
# both engines (see the q_pagerank oracle notes).
_KM_DEC18 = "CAST(CAST({v} AS VARCHAR) AS DECIMAL(27,18))"
_KM_DEC12 = "CAST(CAST({v} AS VARCHAR) AS DECIMAL(27,12))"


def build_kmeans_oracle_sql(k: int = 8, iters: int = 3) -> str:
    assign = """, assign{i} AS MATERIALIZED (
  SELECT id, x, min({{'d': d, 'c': cluster}}).c AS cluster,
         min({{'d': d, 'c': cluster}}).d AS d
  FROM (
    SELECT e.id, e.x, c.cluster, {dist} AS d
    FROM emb e, cents{prev} c)
  GROUP BY id, x
)"""
    update = """, cents{i} AS MATERIALIZED (
  SELECT cluster,
         list_transform(list_sort(list({{'dim': dim, 'm': m}})), r -> r.m)
             AS centroid
  FROM (
    SELECT cluster, dim,
           CAST(SUM({dec18}) AS DOUBLE) / COUNT(*) AS m
    FROM (SELECT cluster, i AS dim, x[i] AS v
          FROM assign{i}, unnest(range(1, len(x) + 1)) AS t(i))
    GROUP BY cluster, dim)
  GROUP BY cluster
)"""
    parts = [f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id AS id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
), cents0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cluster,
         x AS centroid
  FROM (SELECT id, x FROM emb ORDER BY id LIMIT {k})
)"""]
    for i in range(1, iters + 1):
        parts.append(
            assign.format(i=i, prev=i - 1, dist=_KM_DIST.format(x="e.x", c="c.centroid"))
        )
        parts.append(update.format(i=i, dec18=_KM_DEC18.format(v="v")))
    parts.append(f""", final AS MATERIALIZED (
  SELECT id, min({{'d': d, 'c': cluster}}).c AS cluster,
         min({{'d': d, 'c': cluster}}).d AS d
  FROM (
    SELECT e.id, c.cluster, {_KM_DIST.format(x="e.x", c="c.centroid")} AS d
    FROM emb e, cents{iters} c)
  GROUP BY id
)
SELECT f.cluster,
       COUNT(*) AS n_points,
       ROUND(sqrt(list_sum(list_transform(c.centroid, v -> v * v))), 6)
           AS centroid_norm,
       CAST(ROUND(SUM({_KM_DEC12.format(v="f.d")}), 4) AS DOUBLE) AS inertia
FROM final f JOIN cents{iters} c ON f.cluster = c.cluster
GROUP BY f.cluster, c.centroid
""")
    return "".join(parts)


register(q_kmeans_oracle, build_kmeans_oracle_sql(), bench=False)


# --------------------------------------------------------------------------
# Dedup RESOLUTION: keep the best document per duplicate cluster
# --------------------------------------------------------------------------

def q_dedup_keep_best(spark, sf_dir):
    """The step after dedup detection: resolve each exact-duplicate cluster
    (md5 content fingerprint) to its best member — highest quality score
    (token count with stopword presence bonus), doc_id tiebreak — via ONE
    tie-safe struct-max aggregation (no window, no second join; the
    scalable 'row with the max' idiom).  Emits the kept doc per cluster
    with the discard count — the canonical curation output."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens("text")
    score = (
        F.size(toks)
        + F.when(
            F.arrays_overlap(toks, F.array(F.lit("the"), F.lit("a"), F.lit("of"))),
            F.lit(10),
        ).otherwise(F.lit(0))
    ).cast("long")
    scored = docs.select(
        text.content_fingerprint("text").alias("fingerprint"),
        F.struct(
            score.alias("s"), (-F.col("doc_id")).alias("neg_id")
        ).alias("pick"),
        "doc_id",
    )
    return (
        scored.groupBy("fingerprint")
        .agg(
            F.max("pick").alias("best"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "fingerprint",
            (-F.col("best.neg_id")).cast("long").alias("keep_id"),
            F.col("best.s").alias("keep_score"),
            (F.col("n_members") - 1).cast("long").alias("n_discarded"),
        )
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH scored AS (
  SELECT md5({NORM_SQL.format(c='text')}) AS fingerprint,
         doc_id,
         CAST(len(toks)
              + CASE WHEN len(list_intersect(toks, ['the', 'a', 'of'])) > 0
                     THEN 10 ELSE 0 END AS BIGINT) AS s
  FROM (SELECT doc_id, text, {TOKS_SQL.format(c='text')} AS toks FROM documents)
)
SELECT fingerprint,
       CAST(-max({{'s': s, 'neg_id': -doc_id}}).neg_id AS BIGINT) AS keep_id,
       max({{'s': s, 'neg_id': -doc_id}}).s AS keep_score,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_discarded
FROM scored
GROUP BY fingerprint
"""

register(q_dedup_keep_best, SQL_DEDUP_KEEP_BEST, bench=False)


# --------------------------------------------------------------------------
# Dataset mixture weighting
# --------------------------------------------------------------------------

def q_dataset_mixture(spark, sf_dir):
    """Dataset mixing math: given per-source token counts and a uniform
    target distribution, compute each source's sampling weight (target
    share / natural share) and its epoch multiplier capped at 5× (the
    up-sampling bound every mixture recipe carries).  One tiny aggregate
    over the corpus stats — the planning step that decides how a 100 TB
    mixture is actually drawn."""
    docs = _t(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(text.token_count("text").cast("long")).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("k")
    )
    # shares/multipliers as scaled integers (ppm / milli) via true
    # integer division: bit-identical across engines, int64 end-to-end
    # (ROUND(double) + DuckDB HUGEINT sums both hash-fail at the driver)
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # widen through DECIMAL(38,0) before the *1e6/*1e3 scaling:
            # BIGINT n_tokens * 1000000 overflows past ~9.2e12 tokens
            # (routine at 100 TB) where the oracle's SUM is HUGEINT —
            # the decimal lane keeps DIV exact and the engines aligned
            F.expr(
                "CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV t"
                " AS BIGINT)"
            ).alias("natural_share_ppm"),
            F.least(
                F.expr(
                    "CAST(CAST(t AS DECIMAL(38,0)) * 1000"
                    " DIV (CAST(k AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"
                ),
                F.lit(5000).cast("long"),
            ).alias("epoch_multiplier_milli"),
        )
    )


SQL_DATASET_MIXTURE = f"""
WITH per_source AS (
  SELECT source,
         SUM(CAST(len({TOKS_SQL.format(c='text')}) AS BIGINT)) AS n_tokens,
         COUNT(*) AS n_docs
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_tokens) AS t, COUNT(*) AS k FROM per_source
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens * 1000000 // t AS BIGINT) AS natural_share_ppm,
       CAST(least(t * 1000 // (k * n_tokens), 5000) AS BIGINT)
           AS epoch_multiplier_milli
FROM per_source, tot
"""

register(q_dataset_mixture, SQL_DATASET_MIXTURE, bench=False)
