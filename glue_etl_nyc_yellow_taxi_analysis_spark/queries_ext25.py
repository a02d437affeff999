"""Extended inventory XXV — hybrid retrieval (round 4).

The retrieval stack so far exposes the two classic channels separately:
lexical BM25 (`q_bm25_search`) and dense cosine (`q_similarity_topk` /
the ANN lanes).  Production retrieval for RAG / training-data curation
fuses them; Reciprocal Rank Fusion (Cormack et al.) is the standard
training-free fusion and depends only on RANKS, which makes it exactly
integer-replicable across engines — no score normalization, no floats.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import dedup, similarity
from .queries_ext9 import BM25_CTES, bm25_parts
from .queries_ext13 import sql_minhash_pairs
from .registry import register
from .tables import _COSINE_SQL, _t


_RRF_K = 60        # the canonical RRF damping constant
_FUSE_TOPN = 20    # per-channel candidate depth
_FINAL_K = 10


def _hybrid_fused(spark, sf_dir):
    """The RRF fusion table plus the BM25 tf base it was built from (so
    q_rag_context_pack derives its per-doc token counts without a second
    tokenize pass) — see q_hybrid_retrieval for semantics."""
    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    scores, tf = bm25_parts(d)
    lex_top = scores.orderBy(F.desc("bm25"), "doc_id").limit(_FUSE_TOPN)
    w_lex = Window.orderBy(F.desc("bm25"), "doc_id")  # ≤ 20 rows post-carve
    lex = lex_top.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("rank_lex")
    )

    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = similarity.cosine_topk(emb, q, k=_FUSE_TOPN).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").cast("long").alias("rank_dense")
    )

    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_lex", F.lit(0)).alias("rank_lex"),
            F.coalesce("rank_dense", F.lit(0)).alias("rank_dense"),
        )
        .withColumn(
            "rrf_e8",
            F.when(
                F.col("rank_lex") > 0,
                F.expr(f"CAST(100000000 AS BIGINT) div ({_RRF_K} + rank_lex)"),
            ).otherwise(F.lit(0).cast("long"))
            + F.when(
                F.col("rank_dense") > 0,
                F.expr(f"CAST(100000000 AS BIGINT) div ({_RRF_K} + rank_dense)"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    return fused.orderBy(F.desc("rrf_e8"), "doc_id").limit(_FINAL_K), tf


def q_hybrid_retrieval(spark, sf_dir):
    """Hybrid lexical+dense retrieval via Reciprocal Rank Fusion: BM25
    top-20 (fixed 3-term query) fused with exact-cosine top-20 (query
    vector = vec_id 0; doc_id ≡ vec_id links the two tables) by
    rrf = Σ 1/(60 + rank), kept in an exact e8 integer lane
    (100000000 div (60+rank) per channel — rank-only math, so the fusion
    is bit-identical on any engine and any partitioning).

    Scale shape: each channel carves its top-N with orderBy+limit
    (TakeOrderedAndProject — per-partition top-k, no global sort), and
    rank assignment happens AFTER the carve on ≤N rows (the unpartitioned
    row_number window only ever sees N=20 rows).  The fusion join and
    final top-k run on 2N rows — measurement-priced at any corpus size.
    A missing channel contributes rank 0 (absent marker) and no score.
    """
    return _hybrid_fused(spark, sf_dir)[0]


# CTE chain shared by the hybrid-retrieval oracle and the context-pack
# oracle (which packs the fused ranking against a token budget).  The
# BM25 portion (toks…bm) is queries_ext9's BM25_CTES — one source of
# truth with the proven q_bm25_search oracle (review r4).
_HYBRID_CTES = f"""{BM25_CTES}, lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS rank_lex
  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT {_FUSE_TOPN})
), qv AS (
  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id,
         {_COSINE_SQL.format(a='e.embedding', b='q.qvec')} AS cosine_sim
  FROM embeddings e, qv q WHERE e.vec_id <> 0
), dense AS (
  SELECT vec_id AS doc_id, CAST(rank AS BIGINT) AS rank_dense FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS rank
    FROM scored) WHERE rank <= {_FUSE_TOPN}
), fused AS (
  SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
         COALESCE(l.rank_lex, 0) AS rank_lex,
         COALESCE(de.rank_dense, 0) AS rank_dense
  FROM lex l FULL JOIN dense de ON l.doc_id = de.doc_id
), rrf AS (
  SELECT doc_id, rank_lex, rank_dense,
         (CASE WHEN rank_lex > 0
               THEN CAST(100000000 AS BIGINT) // ({_RRF_K} + rank_lex)
               ELSE 0 END
          + CASE WHEN rank_dense > 0
                 THEN CAST(100000000 AS BIGINT) // ({_RRF_K} + rank_dense)
                 ELSE 0 END) AS rrf_e8
  FROM fused
), hybrid_topk AS (
  SELECT * FROM rrf ORDER BY rrf_e8 DESC, doc_id LIMIT {_FINAL_K}
)"""

SQL_HYBRID_RETRIEVAL = f"""
WITH {_HYBRID_CTES}
SELECT doc_id, rank_lex, rank_dense, rrf_e8 FROM hybrid_topk
"""

register(q_hybrid_retrieval, SQL_HYBRID_RETRIEVAL)


# --------------------------------------------------------------------------
# MMR diversified re-ranking
# --------------------------------------------------------------------------

_MMR_CAND = 20   # candidate depth (the dense top-N feeding the re-rank)
_MMR_K = 10      # results to select
# λ = 0.5: argmax(λ·rel − (1−λ)·maxsim) ≡ argmax(rel − maxsim), so the
# greedy comparison stays pure integer subtraction in the e6 lane.


def _mmr_cand_sims(spark, sf_dir):
    """Candidate relevances (dense cosine top-20 for query vec 0) and all
    pairwise candidate similarities, both in the exact e6 integer lane,
    returned COLLECTED as dicts — the state is k-bounded (20 / 380 rows)
    no matter the corpus size.  The corpus-sized scan runs exactly twice
    (top-N carve, then the isin-pruned pairwise pass — a pushed-down
    20-key scan, cheaper than caching the corpus)."""
    from .tables import _t

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = similarity.cosine_topk(emb, q, k=_MMR_CAND).select(
        "vec_id",
        F.floor(F.col("cosine_sim") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("rel_e6"),
    )
    rel = {r.vec_id: r.rel_e6 for r in cand.collect()}
    # pairwise sims over the CONCRETE id list: the isin predicate pushes
    # to the scan, so the self-join touches 20 rows, not the corpus
    cvec = emb.filter(F.col("vec_id").isin(list(rel))).select(
        "vec_id", "embedding"
    )
    x, y = cvec.alias("x"), cvec.alias("y")
    sims = x.join(F.broadcast(y), F.col("x.vec_id") != F.col("y.vec_id")).select(
        F.col("x.vec_id").alias("x_id"),
        F.col("y.vec_id").alias("y_id"),
        F.floor(
            F.round(
                similarity.cosine(F.col("x.embedding"), F.col("y.embedding")), 6
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sim_e6"),
    )
    sim = {(r.x_id, r.y_id): r.sim_e6 for r in sims.collect()}
    return rel, sim


def q_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein) of
    the dense top-20: greedily select 10 results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected (λ=0.5 → pure
    integer rel−maxsim in the e6 lane) — the standard diversified
    re-rank between retrieval and a RAG context window.

    The greedy argmax is inherently sequential over k-BOUNDED state: the
    candidate set (N=20 rows) and its pairwise sims (N²−N=380 rows) are
    fixed-size no matter the corpus, so after the distributed top-N carve
    (cosine_topk / ANN — the only corpus-sized work) both tables are
    collected ONCE and the O(k·N) greedy loop runs driver-side in plain
    Python.  Launching 2 jobs per step over a 20-row DataFrame was pure
    scheduler overhead (measured 2.5s → the floor at sf0.1); the bounded
    collect is the correct plan at 100 TB too.  Every comparison is
    exact integer, so the selection is bit-replicable — the oracle
    replays the whole greedy loop through chained CTEs.

    CONTRACT: the fail-soft below DROPS unrankable candidates (NULL
    cosine from zero-norm / ragged vectors) while the CTE oracle ranks
    them with NULL scores — corpora where every candidate is unrankable
    diverge from the oracle BY DESIGN (the q_pivot_dynamic class); on
    any corpus with rankable vectors the two agree exactly."""
    rel, sim = _mmr_cand_sims(spark, sf_dir)
    # Fail-soft on degenerate corpora (r5 advisory): a NULL cosine
    # (zero-norm / length-mismatched embedding) yields rel_e6/sim_e6 of
    # None — drop unrankable candidates, treat an unknown pairwise sim
    # as "no similarity" (penalty 0), and stop early when fewer than
    # _MMR_K candidates exist instead of crashing the driver.
    rel = {v: r for v, r in rel.items() if r is not None}
    schema = "sel_rank long, vec_id long, mmr_score_e6 long"
    if not rel:
        return spark.createDataFrame([], schema)
    first = min(rel, key=lambda v: (-rel[v], v))
    selected = [(1, first, rel[first])]
    chosen = {first}
    for step in range(2, _MMR_K + 1):
        best = None
        for v in sorted(rel):
            if v in chosen:
                continue
            pens = [sim[(v, s)] for s in chosen if sim.get((v, s)) is not None]
            pen = max(pens) if pens else 0
            score = rel[v] - pen
            if best is None or score > best[1]:
                best = (v, score)
        if best is None:  # candidate pool exhausted before _MMR_K picks
            break
        selected.append((step, best[0], best[1]))
        chosen.add(best[0])
    return spark.createDataFrame(selected, schema)


def _sql_mmr_chain() -> str:
    """Chained-CTE replay of the greedy loop: cand/sims in the e6 lanes,
    then sel{k} picks the argmax among unselected with the max-sim
    penalty vs selall{k-1}."""
    cos_q = _COSINE_SQL.format(a="e.embedding", b="q.qvec")
    cos_xy = _COSINE_SQL.format(a="x.embedding", b="y.embedding")
    parts = [
        f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, {cos_q} AS cs FROM embeddings e, q WHERE e.vec_id <> 0),
cand AS MATERIALIZED (
  SELECT vec_id, CAST(floor(cs * 1000000 + 0.5) AS BIGINT) AS rel_e6
  FROM (SELECT vec_id, cs,
               row_number() OVER (ORDER BY cs DESC, vec_id) AS rk
        FROM scored)
  WHERE rk <= {_MMR_CAND}),
cvec AS MATERIALIZED (
  SELECT c.vec_id, e.embedding FROM cand c JOIN embeddings e USING (vec_id)),
sims AS MATERIALIZED (
  SELECT x.vec_id AS x_id, y.vec_id AS y_id,
         CAST(floor({cos_xy} * 1000000 + 0.5) AS BIGINT) AS sim_e6
  FROM cvec x JOIN cvec y ON x.vec_id <> y.vec_id),
sel1 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, rel_e6 AS mmr_score_e6
  FROM cand ORDER BY rel_e6 DESC, vec_id LIMIT 1),
selall1 AS MATERIALIZED (SELECT * FROM sel1)"""
    ]
    for k in range(2, _MMR_K + 1):
        parts.append(f"""
, sel{k} AS MATERIALIZED (
  SELECT CAST({k} AS BIGINT) AS sel_rank, c.vec_id,
         c.rel_e6 - p.pen_e6 AS mmr_score_e6
  FROM cand c JOIN (
    SELECT x_id, MAX(sim_e6) AS pen_e6 FROM sims
    WHERE y_id IN (SELECT vec_id FROM selall{k - 1}) GROUP BY x_id) p
    ON c.vec_id = p.x_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM selall{k - 1})
  ORDER BY mmr_score_e6 DESC, c.vec_id LIMIT 1),
selall{k} AS MATERIALIZED (
  SELECT * FROM selall{k - 1} UNION ALL SELECT * FROM sel{k})""")
    parts.append(
        f"\nSELECT sel_rank, vec_id, mmr_score_e6 FROM selall{_MMR_K}"
    )
    return "".join(parts)


register(q_mmr_rerank, _sql_mmr_chain())


# --------------------------------------------------------------------------
# RAG context packing
# --------------------------------------------------------------------------

_CTX_BUDGET = 300  # token budget for the packed context window


def q_rag_context_pack(spark, sf_dir):
    """Context-window packing of the fused retrieval ranking: walk the
    hybrid top-10 in fusion order and admit each document while the
    running token total stays within the 300-token budget — the step
    between retrieval and the prompt in every RAG serving path, and the
    document-level sibling of q_sequence_packing's token-budget math.

    All 10 candidate rows are emitted with their running totals and an
    admission verdict (greedy prefix packing: a doc that overflows the
    budget stops admission even if a later shorter doc would fit —
    deterministic, order-faithful).  The running-sum window runs on ≤10
    post-carve rows; the per-doc token counts are an integer rollup of
    the SAME checkpointed tf base the fusion's BM25 channel built
    (Σ tf per doc ≡ the exploded token count — the r12 multi-scan rule:
    the old plan re-ran scan+tokenize+explode for a number the tf table
    already holds)."""
    fused, tf = _hybrid_fused(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens")
    )
    w_order = Window.orderBy(F.desc("rrf_e8"), "doc_id")
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, 0)
    # LEFT join + coalesce-0: a doc reaching the top-10 through the
    # dense channel with no tokens (or no documents row at all) must
    # stay in the walk at zero cost, not silently vanish and renumber
    # every later rank (review r4)
    return (
        fused.join(dl, "doc_id", "left")
        .select(
            "doc_id",
            "rrf_e8",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        )
        .select(
            "doc_id",
            F.row_number().over(w_order).cast("long").alias("ctx_rank"),
            "n_tokens",
            F.sum("n_tokens").over(w_cum).alias("cum_tokens"),
        )
        .withColumn("packed", F.col("cum_tokens") <= _CTX_BUDGET)
    )


SQL_RAG_CONTEXT_PACK = f"""
WITH {_HYBRID_CTES}
SELECT h.doc_id,
       CAST(row_number() OVER (ORDER BY rrf_e8 DESC, h.doc_id) AS BIGINT)
         AS ctx_rank,
       COALESCE(dl.dl, 0) AS n_tokens,
       CAST(SUM(COALESCE(dl.dl, 0)) OVER (ORDER BY rrf_e8 DESC, h.doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens,
       CAST(SUM(COALESCE(dl.dl, 0)) OVER (ORDER BY rrf_e8 DESC, h.doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         <= {_CTX_BUDGET} AS packed
FROM hybrid_topk h LEFT JOIN dl ON h.doc_id = dl.doc_id
"""

register(q_rag_context_pack, SQL_RAG_CONTEXT_PACK)


# --------------------------------------------------------------------------
# Contrastive pair mining (hard negatives)
# --------------------------------------------------------------------------

_CP_NEGS = 3  # hard negatives per anchor


def q_contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair mining for embedding-model training:
    per anchor vector, the top-1 same-label neighbor as the POSITIVE and
    the top-3 most-similar DIFFERENT-label vectors as hard negatives —
    the standard hard-negative mining step (high-similarity wrong-class
    examples carry the gradient signal; random negatives are too easy).

    Anchors broadcast; one corpus pass scores every vector against all
    anchors; the per-(anchor, role) top-k is a window over the anchor
    key (the cosine_topk pattern — per-anchor state is the tiny top-k
    heap).  At corpus scale the negative pool is first cut by an ANN
    pre-filter (IVF cells / LSH buckets — the proven lanes above);
    semantics here are the exact form.  cos_e6 is the floor integer
    lane, so ranks and scores replicate bit-for-bit."""
    from .tables import _t

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.when(F.col("label") == F.col("qlabel"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("role"),
            F.floor(
                F.round(similarity.cosine(F.col("embedding"), F.col("qvec")), 6)
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_e6"),
        )
    )
    w = Window.partitionBy("query_id", "role").orderBy(
        F.desc("cos_e6"), F.col("vec_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("long"))
    return ranked.filter(
        ((F.col("role") == "pos") & (F.col("rank") <= 1))
        | ((F.col("role") == "neg") & (F.col("rank") <= _CP_NEGS))
    ).select("query_id", "role", "rank", "vec_id", "cos_e6")


SQL_CONTRASTIVE_PAIRS = f"""
WITH anchors AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding AS qvec
  FROM embeddings WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT a.query_id, e.vec_id,
         CASE WHEN e.label = a.qlabel THEN 'pos' ELSE 'neg' END AS role,
         CAST(floor({_COSINE_SQL.format(a='e.embedding', b='a.qvec')}
                    * 1000000 + 0.5) AS BIGINT) AS cos_e6
  FROM embeddings e, anchors a WHERE e.vec_id <> a.query_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
              PARTITION BY query_id, role
              ORDER BY cos_e6 DESC, vec_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, role, rank, vec_id, cos_e6
FROM ranked
WHERE (role = 'pos' AND rank <= 1) OR (role = 'neg' AND rank <= {_CP_NEGS})
"""

register(q_contrastive_pairs, SQL_CONTRASTIVE_PAIRS)


# --------------------------------------------------------------------------
# Length-bucketed batch planning (padding-waste audit)
# --------------------------------------------------------------------------

_BPP_BATCH = 32  # sequences per training batch
# power-of-two length ladder as an explicit CASE — log2/pow float forms
# are banned by the repo convention (libm ulp divergence across engines).
# Covers up to 1M tokens/doc; a doc beyond the ladder gets a dedicated
# exact-length bucket (padded == real, zero waste) so padded_tokens can
# never undershoot real_tokens — waste_ppm stays non-negative, keeping
# the integer division out of the Spark-div-truncates vs DuckDB-//-floors
# divergence zone (negative operands round differently)
_BPP_LADDER = tuple(2**k for k in range(4, 21))  # 16 .. 1,048,576


def q_batch_padding_plan(spark, sf_dir):
    """Length-bucketed batch planning for training: assign every
    document to the smallest power-of-two length bucket that fits it,
    then per bucket report batch counts (32 sequences/batch) and the
    exact padding waste (padded − real tokens, ppm) — the dynamic
    batching audit that decides a training run's effective tokens/sec.
    Token counts per doc are one combine-heavy keyed shuffle; bucketing
    is a pure-integer CASE ladder (no log2/pow floats); everything after
    is an O(|buckets|) aggregate."""
    from .tables import _t

    d = _t(spark, sf_dir, "documents")
    dl = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"),
        )
        .filter("token != ''")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    bucket = F.col("n_tokens").cast("long")  # beyond-ladder: exact-fit bucket
    for width in reversed(_BPP_LADDER):
        bucket = F.when(F.col("n_tokens") <= width, F.lit(width).cast("long")).otherwise(
            bucket
        )
    per_bucket = (
        dl.select(bucket.alias("bucket_len"), "n_tokens")
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("real_tokens"),
        )
    )
    return per_bucket.select(
        "bucket_len",
        "n_docs",
        F.expr(f"(n_docs + {_BPP_BATCH - 1}) div {_BPP_BATCH}").alias("n_batches"),
        "real_tokens",
        (F.col("n_docs") * F.col("bucket_len")).alias("padded_tokens"),
        F.expr(
            "(n_docs * bucket_len - real_tokens) * CAST(1000000 AS BIGINT)"
            " div (n_docs * bucket_len)"
        ).alias("waste_ppm"),
    )


_BPP_CASE = "CASE " + " ".join(
    f"WHEN n_tokens <= {w} THEN {w}" for w in _BPP_LADDER
) + " ELSE n_tokens END"

SQL_BATCH_PADDING_PLAN = f"""
WITH dl AS (
  SELECT doc_id, COUNT(*) AS n_tokens
  FROM (SELECT doc_id, t.token
        FROM documents,
             LATERAL unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
               AS t(token)
        WHERE t.token != '')
  GROUP BY doc_id
), bucketed AS (
  SELECT CAST({_BPP_CASE} AS BIGINT) AS bucket_len, n_tokens FROM dl
), per_bucket AS (
  SELECT bucket_len, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS real_tokens
  FROM bucketed GROUP BY bucket_len
)
SELECT bucket_len, n_docs,
       (n_docs + {_BPP_BATCH - 1}) // {_BPP_BATCH} AS n_batches,
       real_tokens,
       n_docs * bucket_len AS padded_tokens,
       (n_docs * bucket_len - real_tokens) * CAST(1000000 AS BIGINT)
         // (n_docs * bucket_len) AS waste_ppm
FROM per_bucket
"""

register(q_batch_padding_plan, SQL_BATCH_PADDING_PLAN)


# --------------------------------------------------------------------------
# mapInArrow surface
# --------------------------------------------------------------------------


def q_arrow_map(spark, sf_dir):
    """``mapInArrow`` — the zero-copy Arrow batch surface (Spark 4's
    lowest-overhead Python lane: raw RecordBatches, no pandas
    conversion).  Declared the same way the UDTF/DataSource surfaces
    are: one genuinely imperative computation (per-doc utf-8 byte
    statistics via numpy over the Arrow buffers) whose exact-integer
    output a SQL oracle replays byte-for-byte.  For expressible logic
    the JVM expression lanes remain the scale path; this is the proof
    the Arrow-native escape hatch works end-to-end."""
    from .tables import _t

    def _byte_stats(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            ids = b.column("doc_id")
            texts = b.column("text").cast(pa.binary())
            n_bytes, sums = [], []
            for t in texts:
                buf = t.as_py()
                if buf is None:
                    # NULL text propagates as NULL stats (SQL encode(NULL)
                    # semantics), not as an empty document
                    n_bytes.append(None)
                    sums.append(None)
                    continue
                arr = np.frombuffer(buf, dtype=np.uint8)
                n_bytes.append(len(buf))
                sums.append(int(arr.sum()))
            yield pa.record_batch(
                [ids, pa.array(n_bytes, pa.int64()), pa.array(sums, pa.int64())],
                names=["doc_id", "n_bytes", "byte_sum"],
            )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(_byte_stats, "doc_id long, n_bytes long, byte_sum long")


SQL_ARROW_MAP = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id, n AS n_bytes,
       CASE WHEN hx IS NULL THEN NULL
            ELSE CAST(COALESCE(list_sum(list_transform(range(0, n), p ->
                   ('0x' || substr(hx, p * 2 + 1, 2))::BIGINT)), 0) AS BIGINT)
       END AS byte_sum
FROM b
"""

register(q_arrow_map, SQL_ARROW_MAP)


def q_arrow_grouped(spark, sf_dir):
    """``applyInArrow`` — the grouped-map Arrow surface, completing the
    Python-lane matrix (mapInPandas / mapInArrow / applyInPandas /
    applyInArrow / applyInPandasWithState / UDTF / DataSource — each
    declared once with an oracle).  Per-source byte statistics computed
    with numpy over each group's Arrow table; groups must fit in
    executor memory (the applyInPandas contract, same here)."""
    from .tables import _t

    def _per_source(table):
        import numpy as np
        import pyarrow as pa

        texts = table.column("text").cast(pa.binary())
        n_docs = len(texts)
        # SQL aggregate NULL semantics: NULL text contributes to COUNT(*)
        # but is skipped by SUM/MAX (an all-NULL group yields NULL totals,
        # matching the oracle's SUM(n)/MAX(n)); the byte_sum lane COALESCEs
        # per row, so NULL text adds 0 there on both engines
        sizes = [len(t.as_py()) for t in texts if t.as_py() is not None]
        sums = [
            int(np.frombuffer(t.as_py(), dtype=np.uint8).sum())
            for t in texts
            if t.as_py() is not None
        ]
        return pa.table(
            {
                "source": [table.column("source")[0].as_py()],
                "n_docs": [n_docs],
                "total_bytes": [int(sum(sizes)) if sizes else None],
                "max_doc_bytes": [int(max(sizes)) if sizes else None],
                "byte_sum": [int(sum(sums))],
            },
            schema=pa.schema(
                [
                    ("source", pa.string()),
                    ("n_docs", pa.int64()),
                    ("total_bytes", pa.int64()),
                    ("max_doc_bytes", pa.int64()),
                    ("byte_sum", pa.int64()),
                ]
            ),
        )

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return docs.groupBy("source").applyInArrow(
        _per_source,
        "source string, n_docs long, total_bytes long, max_doc_bytes long, byte_sum long",
    )


SQL_ARROW_GROUPED = """
WITH b AS (
  SELECT source, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_bytes,
       CAST(MAX(n) AS BIGINT) AS max_doc_bytes,
       CAST(SUM(COALESCE(list_sum(list_transform(range(0, n), p ->
              ('0x' || substr(hx, p * 2 + 1, 2))::BIGINT)), 0)) AS BIGINT)
         AS byte_sum
FROM b GROUP BY source
"""

register(q_arrow_grouped, SQL_ARROW_GROUPED)


# --------------------------------------------------------------------------
# Cluster-quality evaluation (simplified silhouette)
# --------------------------------------------------------------------------


def q_silhouette(spark, sf_dir):
    """Per-label simplified silhouette over the labeled embeddings — the
    cluster-quality dial that decides whether an IVF/SemDeDup clustering
    is usable: a = cosine distance to the OWN label's representative,
    b = min distance to any other label's representative,
    s = (b−a)/max(a,b) ∈ [−1, 1].  Representatives are the
    deterministic lowest-vec_id members (the q_ann_ivf_oracle lane —
    no float-mean centroid, so every distance replicates bit-for-bit);
    per-point silhouettes land in the floor-e6 integer lane and the
    per-label mean is an exact integer division.

    Scale shape: reps are O(labels) and broadcast; one corpus pass
    scores every point against all reps (labels ≪ corpus, same cost
    class as the IVF probe), then two keyed aggregates."""
    from .tables import _t

    emb = _t(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    reps = (
        emb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("label").alias("rlabel"), F.col("embedding").alias("rvec"))
    )
    dist = 1 - F.round(similarity.cosine(F.col("embedding"), F.col("rvec")), 6)
    scored = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            "vec_id",
            "label",
            (F.col("label") == F.col("rlabel")).alias("own"),
            dist.alias("d"),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.min(F.when(F.col("own"), F.col("d"))).alias("a"),
            F.min(F.when(~F.col("own"), F.col("d"))).alias("b"),
        )
    )
    sil = F.when(
        F.greatest("a", "b") > 0,
        (F.col("b") - F.col("a")) / F.greatest("a", "b"),
    ).otherwise(F.lit(0.0))
    per_point = scored.select(
        "label", F.floor(sil * 1000000 + F.lit(0.5)).cast("long").alias("sil_e6")
    )
    # mean via explicit floor(sum/n + 0.5): Spark's integral `div`
    # truncates toward zero while DuckDB's `//` floors — they diverge on
    # negative sums (possible here: silhouettes can be < 0), so the mean
    # goes through an exact-integer-fed double division instead
    return (
        per_point.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("sil_e6").alias("sum_sil_e6"),
            F.min("sil_e6").alias("min_sil_e6"),
            F.max("sil_e6").alias("max_sil_e6"),
        )
        .select(
            "label",
            "n_points",
            F.floor(
                F.col("sum_sil_e6").cast("double") / F.col("n_points") + F.lit(0.5)
            )
            .cast("long")
            .alias("mean_sil_e6"),
            "min_sil_e6",
            "max_sil_e6",
        )
    )


SQL_SILHOUETTE = f"""
WITH reps AS (
  SELECT label AS rlabel, embedding AS rvec FROM (
    SELECT label, embedding,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM embeddings) WHERE rn = 1
), scored AS (
  SELECT e.vec_id, e.label,
         MIN(CASE WHEN e.label = r.rlabel THEN
               1 - {_COSINE_SQL.format(a='e.embedding', b='r.rvec')} END) AS a,
         MIN(CASE WHEN e.label <> r.rlabel THEN
               1 - {_COSINE_SQL.format(a='e.embedding', b='r.rvec')} END) AS b
  FROM embeddings e, reps r
  GROUP BY e.vec_id, e.label
), per_point AS (
  SELECT label,
         CAST(floor(CASE WHEN greatest(a, b) > 0
                         THEN (b - a) / greatest(a, b) ELSE 0.0 END
                    * 1000000 + 0.5) AS BIGINT) AS sil_e6
  FROM scored
)
SELECT label, COUNT(*) AS n_points,
       CAST(floor(CAST(SUM(sil_e6) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
         AS mean_sil_e6,
       CAST(MIN(sil_e6) AS BIGINT) AS min_sil_e6,
       CAST(MAX(sil_e6) AS BIGINT) AS max_sil_e6
FROM per_point GROUP BY label
"""

register(q_silhouette, SQL_SILHOUETTE)


# --------------------------------------------------------------------------
# Dedup threshold sweep
# --------------------------------------------------------------------------

_SWEEP_FLOOR = 0.3  # verify floor: candidates below this are discarded


def q_dedup_threshold_sweep(spark, sf_dir):
    """Threshold-sensitivity dial for near-dup tuning: ONE banding +
    verification pass at a low floor (τ=0.3), then verified pairs are
    bucketed by Jaccard tenth with a cumulative pairs-at-or-above count
    — what a curation run inspects to pick its production τ without
    re-running the pipeline per candidate threshold.  Banding is fixed
    (12 hashes / 4 bands, md5 lane), exactly how a production sweep
    works: candidate recall is a banding property, the sweep varies
    only the verify cut.  The cumulative window runs over ≤ 8 bucket
    rows."""
    from .tables import _t

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, num_hashes=12, bands=4, shingle_n=3,
        threshold=_SWEEP_FLOOR, lane="md5",
    )
    counts = (
        pairs.select(
            F.floor(F.col("jaccard_sim") * 10).cast("long").alias("tau_tenths")
        )
        .groupBy("tau_tenths")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("tau_tenths")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return counts.withColumn("n_pairs_at_or_above", F.sum("n_pairs").over(w))


SQL_DEDUP_THRESHOLD_SWEEP = f"""
WITH pairs AS ({sql_minhash_pairs(_SWEEP_FLOOR)}),
c AS (
  SELECT CAST(floor(jaccard_sim * 10) AS BIGINT) AS tau_tenths,
         COUNT(*) AS n_pairs
  FROM pairs GROUP BY 1
)
SELECT tau_tenths, n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY tau_tenths DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_pairs_at_or_above
FROM c
"""

register(q_dedup_threshold_sweep, SQL_DEDUP_THRESHOLD_SWEEP)
