"""Extended inventory XL — product-quantization ANN (round 8).

``operators/pq.py`` closes the missing quarter of the vector-search
stack: IVF bounds WHICH vectors a query scores, LSH bounds which PAIRS
meet, scalar quantization (``q_embedding_quantize``) shrinks the store
4× — PQ shrinks it 64× (m=4 codes per 64-dim float vector) and makes
every comparison m lookups instead of dim multiplies.  That is the
standard trick for searching an embedding corpus that no longer fits
as floats (Jégou et al., TPAMI 2011).

Verification strategy: the whole pipeline rides the exact-lane
discipline proven by ``q_kmeans_oracle`` — deterministic lowest-id
init, DECIMAL(27,18) centroid sums, ties toward the lower cluster id —
so a generated chained-CTE DuckDB oracle replays train → encode →
distance table → ADC scoring bit-for-bit:

* ``q_ann_pq_oracle`` — full PQ-ADC top-10 for 3 query vectors:
  (query_id, vec_id, adc_dist, rank) with the ADC sum accumulated in
  decimal on both engines (the m addends are partition-order-free).
* ``q_pq_rerank`` — the production search shape: ADC nominates a
  10×k shortlist in the compressed domain, then ONLY those nq·r
  full-precision vectors are re-ranked by true L2 (measured here:
  recall@10 ~23% raw ADC → ~90% after re-rank, while touching full
  vectors for r/N of the corpus per query).
* ``q_pq_recall`` — the quality dial: ADC top-10 AND re-ranked top-10
  vs exact full-precision L2 top-10 (the same deterministic double
  fold both engines share), reported as hits@10 per query.  Pins that
  the approximation is an ADJUDICATED trade, not an unmeasured one —
  the same contract q_ann_recall_oracle gives IVF.
* ``q_pq_index_persist`` — the deployment shape: codebook + code table
  written as catalog tables over the standing corpus (codes as
  content-sized plain parquet — every probe joins them against a
  broadcast distance table, so no bucket layout pays for itself), then
  an incoming batch ADC-probes the read-back index without touching a
  single base float vector — train once / encode once / search many,
  q_dedup_index_persist's contract for vectors.

Scale posture: the codebook (m·k = 64 rows) and the per-query distance
table (nq·m·k = 192 rows) are broadcast everywhere; the corpus streams
once per stage (subvector scan → code assignment → ADC join) with the
only shuffles being m·k·d_sub-cell training combines and the final
per-query top-k.  No corpus × corpus join exists in any stage; the
exact-L2 side of the recall lane is corpus × nq with nq=3 broadcast —
the same bounded brute-force every recall audit in the repo uses.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import pq
from .operators.materialize import materialize
from .operators.similarity import dot as _dot  # noqa: F401 (parity import)
from .paths import scratch
from .registry import register
from .tables import _t


_PQ_M = 4
_PQ_K = 16
_PQ_ITERS = 2
_PQ_TOPK = 10
_PQ_R = 100  # ADC shortlist size for the exact re-rank (10 × k)
_PQ_QIDS = (0, 1, 2)

# engine-portable squared L2 over aligned double lists (sequential fold,
# same order as pq._sq_dist's zip_with/aggregate)
_SQDIST_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)
# Spark double→decimal = HALF_UP on the SHORTEST double repr
# (BigDecimal.valueOf); DuckDB's VARCHAR round-trip is the same algorithm
# (q_pagerank oracle notes)
_DEC18 = "CAST(CAST({v} AS VARCHAR) AS DECIMAL(27,18))"


def _pq_model_cte(
    m: int,
    k: int,
    iters: int,
    base_pred: str = "TRUE",
    emb_prefix: str | None = None,
) -> str:
    """The shared train→encode prefix: emb / pts / bpts /
    cents0..cents{iters} / codes, mirroring operators/pq.pq_train +
    pq_encode stage for stage.  ``base_pred`` restricts which vectors
    the codebook trains on and the code table covers (the persisted-
    index lane trains on the standing corpus only); queries always
    come from the unfiltered pts.  ``emb_prefix`` swaps the vector
    source (the IVFADC lane feeds RESIDUALS: x - coarse centroid) —
    it must be a full WITH-prefix ending after an ``emb(id, x)`` CTE."""
    assign = """, assign{i} AS MATERIALIZED (
  SELECT id, sub, sx, min({{'d': d, 'c': cluster}}).c AS cluster
  FROM (
    SELECT p.id, p.sub, p.sx, c.cluster, {dist} AS d
    FROM bpts p JOIN cents{prev} c ON p.sub = c.sub)
  GROUP BY id, sub, sx
)"""
    update = """, cents{i} AS MATERIALIZED (
  SELECT sub, cluster,
         list_transform(list_sort(list({{'dim': dim, 'mv': mv}})), r -> r.mv)
             AS centroid
  FROM (
    SELECT sub, cluster, dim,
           CAST(SUM({dec18}) AS DOUBLE) / COUNT(*) AS mv
    FROM (SELECT sub, cluster, i AS dim, sx[i] AS v
          FROM assign{i}, unnest(range(1, len(sx) + 1)) AS t(i))
    GROUP BY sub, cluster, dim)
  GROUP BY sub, cluster
)"""
    if emb_prefix is None:
        emb_prefix = f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id AS id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= {m}
)"""
    parts = [emb_prefix + f""", pts AS MATERIALIZED (
  SELECT id, j AS sub,
         x[j * (len(x) // {m}) + 1 : (j + 1) * (len(x) // {m})] AS sx
  FROM emb, unnest(range(0, {m})) AS t(j)
), bpts AS MATERIALIZED (
  SELECT * FROM pts WHERE {base_pred}
), cents0 AS MATERIALIZED (
  SELECT sub, CAST(rn - 1 AS BIGINT) AS cluster, sx AS centroid
  FROM (SELECT sub, sx,
               row_number() OVER (PARTITION BY sub ORDER BY id) AS rn
        FROM bpts)
  WHERE rn <= {k}
)"""]
    for i in range(1, iters + 1):
        parts.append(
            assign.format(
                i=i,
                prev=i - 1,
                dist=_SQDIST_SQL.format(a="p.sx", b="c.centroid"),
            )
        )
        parts.append(update.format(i=i, dec18=_DEC18.format(v="v")))
    parts.append(f""", codes AS MATERIALIZED (
  SELECT id, sub, min({{'d': d, 'c': cluster}}).c AS code
  FROM (
    SELECT p.id, p.sub, c.cluster,
           {_SQDIST_SQL.format(a="p.sx", b="c.centroid")} AS d
    FROM bpts p JOIN cents{iters} c ON p.sub = c.sub)
  GROUP BY id, sub
)""")
    return "".join(parts)


def _adc_cte(iters: int, qids: tuple = (), qpred: str | None = None) -> str:
    """qpts / dtab / adc on top of the model prefix.  Queries come from
    the UNFILTERED pts (a persisted-index probe's vectors are not part
    of the indexed base); select them by id list or by predicate."""
    if qpred is None:
        qpred = "id IN (" + ", ".join(str(q) for q in qids) + ")"
    return f""", qpts AS (
  SELECT id AS qid, sub, sx AS qx FROM pts WHERE {qpred}
), dtab AS MATERIALIZED (
  SELECT q.qid, q.sub, c.cluster,
         {_DEC18.format(v=_SQDIST_SQL.format(a="q.qx", b="c.centroid"))} AS pd
  FROM qpts q JOIN cents{iters} c ON q.sub = c.sub
), adc AS MATERIALIZED (
  SELECT d.qid, cd.id, SUM(d.pd) AS adc_dec
  FROM codes cd JOIN dtab d ON cd.sub = d.sub AND cd.code = d.cluster
  WHERE cd.id <> d.qid
  GROUP BY d.qid, cd.id
), adc_rank AS MATERIALIZED (
  SELECT qid, id, adc_dec,
         row_number() OVER (PARTITION BY qid ORDER BY adc_dec, id) AS rank
  FROM adc
)"""


def q_ann_pq_oracle(spark, sf_dir):
    """PQ-ADC ANN, fully oracle-checked: train m=4 codebooks of k=16
    (2 exact-lane Lloyd iterations), encode the corpus to 4 one-byte
    codes/vector, then asymmetric-distance top-10 for 3 query vectors.
    The corpus's float vectors are never touched after encode time —
    scoring is a broadcast distance-table join over the code table."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_PQ_QIDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    return pq.pq_adc_topk(emb, queries, cb, k=_PQ_TOPK, m=_PQ_M)


SQL_ANN_PQ_ORACLE = (
    _pq_model_cte(_PQ_M, _PQ_K, _PQ_ITERS)
    + _adc_cte(_PQ_ITERS, _PQ_QIDS)
    + f"""
SELECT qid AS query_id, id AS vec_id,
       CAST(ROUND(adc_dec, 6) AS DOUBLE) AS adc_dist, rank
FROM adc_rank
WHERE rank <= {_PQ_TOPK}
"""
)

register(q_ann_pq_oracle, SQL_ANN_PQ_ORACLE)


def q_pq_rerank(spark, sf_dir):
    """ADC shortlist (r=100) + exact L2 re-rank to top-10 — the
    IVFADC-with-verification search shape: full-precision vectors are
    read back ONLY for the nq·r nominated candidates (broadcast join
    probe of the corpus, no shuffle), and the final ranking is the true
    distance, so PQ's quantization error costs recall only when a true
    neighbor misses a 10×k-deep shortlist."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_PQ_QIDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    return pq.pq_adc_rerank_topk(
        emb, queries, cb, k=_PQ_TOPK, r=_PQ_R, m=_PQ_M
    )


# rank on the RAW double distance (deterministic shared fold); the
# printed distance goes through the decimal shortest-repr route so the
# half-up at 1e-6 is engine-identical (never ROUND a raw double)
_RER_CTE = f""", rer AS MATERIALIZED (
  SELECT a.qid, a.id, {_SQDIST_SQL.format(a="q.x", b="e.x")} AS d
  FROM (SELECT qid, id FROM adc_rank WHERE rank <= {_PQ_R}) a
  JOIN emb e ON e.id = a.id
  JOIN emb q ON q.id = a.qid
), rer_rank AS MATERIALIZED (
  SELECT qid, id, d,
         row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank
  FROM rer
)"""

SQL_PQ_RERANK = (
    _pq_model_cte(_PQ_M, _PQ_K, _PQ_ITERS)
    + _adc_cte(_PQ_ITERS, _PQ_QIDS)
    + _RER_CTE
    + f"""
SELECT qid AS query_id, id AS vec_id,
       CAST(ROUND({_DEC18.format(v="d")}, 6) AS DOUBLE) AS l2_dist, rank
FROM rer_rank
WHERE rank <= {_PQ_TOPK}
"""
)

register(q_pq_rerank, SQL_PQ_RERANK)


def q_pq_recall(spark, sf_dir):
    """Recall@10 of PQ-ADC (raw and re-ranked) against exact
    full-precision L2 — the adjudication dial for the 64× compression:
    per query, how many of the true 10 nearest neighbors the code-based
    search kept, and how many the r=100 exact re-rank buys back.  Both
    sides are deterministic (exact side: the shared sequential double
    fold, ties by vec_id), so even the approximation's QUALITY is
    hash-pinned, not eyeballed.

    The oracle's corpus-validity filter (non-NULL, >= m dims) is
    applied up front: an empty/ragged vector can neither be searched
    nor score as a neighbor, and the exact brute-force side would
    otherwise rank it with a NULL distance — Spark sorts NULLs FIRST
    ascending, DuckDB LAST (degenerate-corpus gate find)."""
    # NINE subtrees read it: train, encode, both searches' queries,
    # the exact brute-force side, the rerank read-back, the final
    # left-join spine
    emb = materialize(
        _t(spark, sf_dir, "embeddings").filter(
            F.col("embedding").isNotNull() & (F.size("embedding") >= _PQ_M)
        ),
        "valid-vector corpus: nine subtrees read it",
    )
    queries = emb.filter(F.col("vec_id").isin(*_PQ_QIDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    # encode the corpus ONCE and share the code table across the raw-ADC
    # and rerank searches (each used to run its own pq_encode corpus
    # pass); lazily materialized so the first search's job pays it.
    # (A content-sized coalesce before the checkpoint — the stream
    # lane's win — measured ~0.5s SLOWER here interleaved: the lazy
    # checkpoint folds the encode into the first search's job, and the
    # coalesce serializes that whole chain into one task.)
    codes = materialize(
        pq.pq_encode(emb, cb, m=_PQ_M),
        "PQ codes: read by the raw-ADC and the rerank search",
        eager=False,
    )
    adc = pq.pq_adc_topk(
        emb, queries, cb, k=_PQ_TOPK, m=_PQ_M, codes=codes
    ).select("query_id", "vec_id")
    rer = pq.pq_adc_rerank_topk(
        emb, queries, cb, k=_PQ_TOPK, r=_PQ_R, m=_PQ_M, codes=codes
    ).select("query_id", "vec_id")

    qv = F.broadcast(
        queries.select(
            "query_id",
            F.transform("embedding", lambda v: v.cast("double")).alias("qx"),
        )
    )
    scored = (
        emb.select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        )
        .crossJoin(qv)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("x", "qx", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("vec_id"))
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select("query_id", "vec_id")
    )
    hits_adc = (
        adc.join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits_adc"))
    )
    hits_rer = (
        rer.join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits_rerank"))
    )
    return (
        queries.select("query_id")
        .join(hits_adc, "query_id", "left")
        .join(hits_rer, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits_adc"), F.lit(0))
            .cast("bigint")
            .alias("hits_adc"),
            F.coalesce(F.col("hits_rerank"), F.lit(0))
            .cast("bigint")
            .alias("hits_rerank"),
        )
    )


SQL_PQ_RECALL = (
    _pq_model_cte(_PQ_M, _PQ_K, _PQ_ITERS)
    + _adc_cte(_PQ_ITERS, _PQ_QIDS)
    + _RER_CTE
    + f""", exact_top AS (
  SELECT qid, id
  FROM (
    SELECT q.id AS qid, e.id,
           row_number() OVER (
               PARTITION BY q.id
               ORDER BY {_SQDIST_SQL.format(a="q.x", b="e.x")}, e.id) AS rank
    FROM (SELECT id, x FROM emb WHERE id IN ({", ".join(str(q) for q in _PQ_QIDS)})) q
    JOIN emb e ON e.id <> q.id)
  WHERE rank <= {_PQ_TOPK}
), hits_a AS (
  SELECT a.qid, COUNT(*) AS hits
  FROM (SELECT qid, id FROM adc_rank WHERE rank <= {_PQ_TOPK}) a
  JOIN exact_top x ON a.qid = x.qid AND a.id = x.id
  GROUP BY a.qid
), hits_r AS (
  SELECT r.qid, COUNT(*) AS hits
  FROM (SELECT qid, id FROM rer_rank WHERE rank <= {_PQ_TOPK}) r
  JOIN exact_top x ON r.qid = x.qid AND r.id = x.id
  GROUP BY r.qid
)
SELECT q.qid AS query_id,
       CAST(COALESCE(a.hits, 0) AS BIGINT) AS hits_adc,
       CAST(COALESCE(r.hits, 0) AS BIGINT) AS hits_rerank
FROM (SELECT DISTINCT qid FROM qpts) q
LEFT JOIN hits_a a ON q.qid = a.qid
LEFT JOIN hits_r r ON q.qid = r.qid
"""
)

register(q_pq_recall, SQL_PQ_RECALL)


# --------------------------------------------------------------------------
# Persisted PQ index — train once, encode once, search many
# --------------------------------------------------------------------------

_PQI_TOPK = 5
_PQI_BASE = "vec_id % 7 != 0"  # the standing corpus the index covers
_PQI_BASE_SQL = "id % 7 <> 0"
_PQI_QPRED = "vec_id % 7 = 0"  # the arrival pool the batch draws from
# A probe BATCH is bounded (one trigger's arrivals), while the standing
# corpus grows: the sf1 rehearsal measured 18-23x wall at 10x rows when
# the batch also grew with the corpus — flat ADC is O(batch x corpus),
# so a corpus-proportional batch is quadratic over time.  The capped
# batch keeps the lane linear in corpus size; corpus-scale query loads
# belong on the cell-bounded IVFADC path (q_ann_ivfpq_oracle).
_PQI_BATCH = 24
_PQI_QPRED_SQL = (
    f"id IN (SELECT id FROM emb WHERE id % 7 = 0 ORDER BY id LIMIT {_PQI_BATCH})"
)
# write-side sizing for the persisted code table (guide §6): codes rows
# are ~20 B (id, sub, code), so ~4M rows ≈ a 64-128 MB parquet file;
# the file count is content-derived from the indexed corpus size
_PQI_CODES_ROWS_PER_FILE = 4_000_000


def q_pq_index_persist(spark, sf_dir):
    """The persisted ANN index: codebook + code table trained/encoded
    over the standing corpus (vec_id % 7 != 0) and written as catalog
    tables (codes as content-sized plain parquet, ~64-128 MB files — at
    100 TB the code table is standing infrastructure, re-encoded only
    when the codebook retrains), then one bounded arrival batch (the 24 lowest
    vec_id % 7 = 0 ids — a batch is one trigger's worth; flat ADC is
    O(batch × corpus), so a corpus-proportional batch would be
    quadratic over time, the sf1-rehearsal find) searches
    it by ADC top-5 WITHOUT touching the base corpus's float vectors:
    pq_adc_topk consumes the read-back code table directly, so the only
    thing read at query time is 4 bytes/vector of codes plus the
    broadcast m·k codebook — the train-once/search-many deployment
    shape of q_dedup_index_persist, for vectors.  Re-runnable:
    overwrite mode, metastore + physical dirs cleared first."""
    import shutil
    from urllib.parse import urlparse

    from . import catalog

    db = "sg_pq_index"
    catalog.ensure_database(spark, db)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("codes", "codebook"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        shutil.rmtree(f"{wh}/{db}.db/{t}", ignore_errors=True)

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(_PQI_BASE)
    cb = pq.pq_train(base, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    codes = pq.pq_encode(base, cb, m=_PQ_M)
    # write-side sizing (guide §6): the r11 layout bucketed by (sub,
    # code) with a per-bucket sort, but NO consumer ever shuffle-joins
    # the code table on (sub, code) — every ADC probe joins it against a
    # BROADCAST distance table — so the bucketing bought nothing and the
    # bucketed writer emitted one file per (task, bucket): 256 tiny
    # files at sf0.1 (measured 0.9-1.7s write, 0.7-0.9s read-back probe).
    # Content-sized plain parquet (ceil(m·|base| / 4M rows) files ≈
    # 64-128 MB each at any scale) writes in 0.7-0.9s and probes in
    # ~0.6s; the COUNT is the same content-derived-shards convention the
    # WARC lanes use.
    n_base = base.count()
    n_files = max(1, -(-(n_base * _PQ_M) // _PQI_CODES_ROWS_PER_FILE))
    catalog.save_table(codes.repartition(n_files), db, "codes")
    catalog.save_table(cb, db, "codebook")

    index_codes = catalog.read_table(spark, db, "codes")
    index_cb = catalog.read_table(spark, db, "codebook")
    incoming = (
        emb.filter(_PQI_QPRED)
        .orderBy("vec_id")
        .limit(_PQI_BATCH)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return pq.pq_adc_topk(
        emb,
        incoming,
        index_cb,
        k=_PQI_TOPK,
        m=_PQ_M,
        codes=index_codes,
    )


SQL_PQ_INDEX_PERSIST = (
    _pq_model_cte(_PQ_M, _PQ_K, _PQ_ITERS, base_pred=_PQI_BASE_SQL)
    + _adc_cte(_PQ_ITERS, qpred=_PQI_QPRED_SQL)
    + f"""
SELECT qid AS query_id, id AS vec_id,
       CAST(ROUND(adc_dec, 6) AS DOUBLE) AS adc_dist, rank
FROM adc_rank
WHERE rank <= {_PQI_TOPK}
"""
)

register(q_pq_index_persist, SQL_PQ_INDEX_PERSIST)


# --------------------------------------------------------------------------
# IVFADC — IVF coarse partitioning + PQ on residuals (the FAISS index)
# --------------------------------------------------------------------------

_IVFPQ_NPROBE = 3


def q_ann_ivfpq_oracle(spark, sf_dir):
    """IVFADC, fully oracle-checked: coarse-quantize by label with the
    deterministic lowest-id representative (the q_ann_ivf_oracle
    convention), train ONE shared PQ codebook on the RESIDUALS
    x − coarse_centroid (residuals are smaller than raw vectors, so the
    same k=16 codebook quantizes them finer — the reason FAISS's IVFADC
    encodes residuals), then search: probe the 3 nearest coarse cells
    per query, build the ADC distance table from the QUERY'S residual
    against each probed cell, and score only that cell's codes.

    The scale composition is the whole point: IVF bounds WHICH vectors
    are scored (nprobe/nlist of the corpus), PQ bounds what each
    costs (m lookups) — cost per query drops from O(N·dim) to
    O(N·nprobe/nlist·m) lookups plus a broadcast table build.  Every
    stage stays exact-lane (decimal ADC sums, deterministic ties), so
    the full composed index is replayed by one chained-CTE oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") >= _PQ_M)
    ).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    reps = (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("label").alias("ccluster"), F.col("x").alias("centroid"))
    )
    resid = materialize(
        base.join(F.broadcast(reps), base.label == reps.ccluster).select(
            "vec_id",
            "label",
            F.zip_with("x", "centroid", lambda a, b: a - b).alias("res"),
        ),
        "residuals: read by train, encode and the cluster map",
    )
    cb = pq.pq_train(
        resid, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, vec_col="res"
    )
    codes = pq.pq_encode(resid, cb, m=_PQ_M, vec_col="res").join(
        resid.select(F.col("vec_id").alias("id"), "label"), "id"
    )

    sq = pq._sq_dist
    qv = base.filter(F.col("vec_id").isin(*_PQ_QIDS)).select(
        F.col("vec_id").alias("qid"), "x"
    )
    pw = Window.partitionBy("qid").orderBy(F.asc("__pd"), F.asc("ccluster"))
    probe = (
        qv.crossJoin(F.broadcast(reps))
        .withColumn("__pd", sq("x", "centroid"))
        .withColumn("__pr", F.row_number().over(pw))
        .filter(F.col("__pr") <= _IVFPQ_NPROBE)
        .select(
            "qid",
            "ccluster",
            F.zip_with("x", "centroid", lambda a, b: a - b).alias("qres"),
        )
    )
    sub_expr = (
        f"transform(sequence(0, {_PQ_M - 1}), "
        f"j -> slice(qres, j * (size(qres) div {_PQ_M}) + 1, "
        f"size(qres) div {_PQ_M}))"
    )
    qsub = probe.select(
        "qid", "ccluster", F.posexplode(F.expr(sub_expr)).alias("sub", "qx")
    )
    dtab = qsub.join(F.broadcast(cb), "sub").select(
        "qid",
        "ccluster",
        "sub",
        F.col("cluster").alias("pcode"),
        sq("qx", "centroid").cast("decimal(27,18)").alias("pd"),
    )
    scored = (
        codes.join(
            F.broadcast(dtab),
            (codes.label == dtab.ccluster)
            & (codes.sub == dtab.sub)
            & (codes.code == dtab.pcode),
        )
        .filter(F.col("id") != F.col("qid"))
        .groupBy("qid", "id")
        .agg(F.sum("pd").alias("adc_dec"))
    )
    rw = Window.partitionBy("qid").orderBy(F.asc("adc_dec"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("vec_id"),
            F.round(F.col("adc_dec"), 6).cast("double").alias("adc_dist"),
            "rank",
        )
    )


_IVFPQ_EMB_PREFIX = f"""
WITH emb0 AS MATERIALIZED (
  SELECT vec_id AS id, label,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= {_PQ_M}
), reps AS MATERIALIZED (
  SELECT label AS ccluster, x AS centroid
  FROM (SELECT label, x,
               row_number() OVER (PARTITION BY label ORDER BY id) AS rn
        FROM emb0)
  WHERE rn = 1
), emb AS MATERIALIZED (
  SELECT e.id, e.label,
         list_transform(range(1, len(e.x) + 1),
                        i -> e.x[i] - r.centroid[i]) AS x
  FROM emb0 e JOIN reps r ON e.label = r.ccluster
)"""

_IVFPQ_SEARCH_CTE = f""", vclu AS (
  SELECT id, label AS vcluster FROM emb
), probe AS MATERIALIZED (
  SELECT qid, ccluster, qres FROM (
    SELECT q.id AS qid, r.ccluster,
           list_transform(range(1, len(q.x) + 1),
                          i -> q.x[i] - r.centroid[i]) AS qres,
           row_number() OVER (
               PARTITION BY q.id
               ORDER BY {_SQDIST_SQL.format(a="q.x", b="r.centroid")},
                        r.ccluster) AS pr
    FROM (SELECT id, x FROM emb0
          WHERE id IN ({", ".join(str(q) for q in _PQ_QIDS)})) q, reps r)
  WHERE pr <= {_IVFPQ_NPROBE}
), qpts2 AS (
  SELECT qid, ccluster, j AS sub,
         qres[j * (len(qres) // {_PQ_M}) + 1
              : (j + 1) * (len(qres) // {_PQ_M})] AS qx
  FROM probe, unnest(range(0, {_PQ_M})) AS t(j)
), dtab AS MATERIALIZED (
  SELECT p.qid, p.ccluster, p.sub, c.cluster AS pcode,
         {_DEC18.format(v=_SQDIST_SQL.format(a="p.qx", b="c.centroid"))} AS pd
  FROM qpts2 p JOIN cents{_PQ_ITERS} c ON p.sub = c.sub
), adc AS MATERIALIZED (
  SELECT d.qid, cd.id, SUM(d.pd) AS adc_dec
  FROM codes cd
  JOIN vclu v ON cd.id = v.id
  JOIN dtab d ON d.ccluster = v.vcluster
             AND d.sub = cd.sub AND d.pcode = cd.code
  WHERE cd.id <> d.qid
  GROUP BY d.qid, cd.id
)"""

SQL_ANN_IVFPQ_ORACLE = (
    _pq_model_cte(_PQ_M, _PQ_K, _PQ_ITERS, emb_prefix=_IVFPQ_EMB_PREFIX)
    + _IVFPQ_SEARCH_CTE
    + f"""
SELECT qid AS query_id, id AS vec_id,
       CAST(ROUND(adc_dec, 6) AS DOUBLE) AS adc_dist, rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY adc_dec, id) AS rank
      FROM adc)
WHERE rank <= {_PQ_TOPK}
"""
)

register(q_ann_ivfpq_oracle, SQL_ANN_IVFPQ_ORACLE)


def q_stream_ann_enrich(spark, sf_dir):
    """Online ANN enrichment — the retrieval side of the persisted
    index: the PQ model (codebook + code table) is trained ONCE on the
    standing corpus, then incoming vector micro-batches (the
    vec_id % 7 = 0 arrivals, one parquet shard per trigger) ADC-probe
    it inside foreachBatch — micro-batch = 'one Lambda invocation',
    probe = a broadcast distance-table join per batch, the standing
    corpus's float vectors never touched.  Per-query results are
    independent of batching, so the drained union must equal
    q_pq_index_persist's batch output row for row — this lane shares
    that oracle VERBATIM (the q_stream_png_ingest convention),
    extending stream/batch equivalence to the vector-search stack."""
    from .streaming.ingest import drain, stream_files

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(_PQI_BASE)
    cb = pq.pq_train(base, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS)
    # the in-memory index is consumed once per micro-batch: materialize
    # it at the same content-derived width the persisted table uses
    # (~4M code rows per partition) instead of the corpus scan width —
    # 32 near-empty partitions made every batch's probe schedule 32
    # tasks (measured drain 2.8s -> 2.3s at sf0.1; width grows with the
    # corpus, so a real index stays wide)
    n_base = base.count()
    n_parts = max(1, -(-(n_base * _PQ_M) // _PQI_CODES_ROWS_PER_FILE))
    codes = materialize(
        pq.pq_encode(base, cb, m=_PQ_M).coalesce(n_parts),
        "in-memory PQ index: probed once per micro-batch",
    )

    incoming = (
        emb.filter(_PQI_QPRED)
        .orderBy("vec_id")
        .limit(_PQI_BATCH)
        .select("vec_id", "embedding")
    )
    src = scratch("sg_annstream_src_")
    incoming.repartition(2).write.mode("overwrite").parquet(src)

    out = scratch("sg_annstream_out_")
    stream = stream_files(spark, src, incoming.schema, max_files_per_trigger=1)

    def probe(batch_df, _batch_id):
        q = batch_df.select(F.col("vec_id").alias("query_id"), "embedding")
        pq.pq_adc_topk(
            emb, q, cb, k=_PQI_TOPK, m=_PQ_M, codes=codes
        ).write.mode("append").parquet(out)

    drain(stream, probe)
    # explicit schema: an EMPTY arrival backlog leaves no parquet file
    # to infer from, and still reads back as zero rows
    return spark.read.schema(
        "query_id bigint, vec_id bigint, adc_dist double, rank int"
    ).parquet(out)


register(q_stream_ann_enrich, SQL_PQ_INDEX_PERSIST)
