"""Product quantization (PQ) — the compressed-vector ANN path.

IVF (``similarity.ivf_topk``) bounds WHICH vectors a query scores;
PQ bounds what scoring a vector COSTS: each embedding is stored as
``m`` one-byte codes instead of ``dim`` floats (64 dims × 4 B → 4 B at
m=4, a 64× store shrink), and a query scores a vector with ``m`` table
lookups + adds instead of ``dim`` multiplies.  At 100 TB of embeddings
this is the difference between a corpus that fits in executor memory as
codes and one that re-reads parquet per query batch: train once, encode
once, then every search is a broadcast-join over a tiny
(query × sub × centroid) distance table against the code table —
no full-precision vector is touched after encode time.

The decomposition (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public):

* split each vector into ``m`` contiguous subvectors;
* train an independent k-means codebook per subspace (``pq_train``);
* encode: per subspace, the id of the nearest centroid (``pq_encode``);
* search: asymmetric distance computation (ADC) — the QUERY stays full
  precision; per (query, sub, centroid) squared sub-distances are
  precomputed once, and a database vector's approximate squared L2
  distance is the sum of its ``m`` looked-up cells (``pq_adc_topk``).

Everything here rides the repo's exact-lane discipline
(``similarity.kmeans_train_exact``): deterministic init (the k
lowest-id vectors per subspace), ties toward the lower cluster id,
DECIMAL(27,18)-summed centroid updates (order-free under any
partitioning), and ADC sums accumulated in decimal — so the whole
train → encode → search pipeline is bit-replicable by an external SQL
oracle (``queries_ext40``).

Scale posture:

* training shuffles (sub × cluster × dim) CELLS, not vectors — the
  combine is map-side partial and its reduce width is m·k·d_sub,
  independent of corpus size;
* the codebook (m·k rows) and the per-query distance table (nq·m·k
  rows) are always broadcast — the corpus side streams once per stage
  with zero shuffle until the final per-query top-k;
* no stage ever joins corpus × corpus.

Reference parity note: the reference (Glue taxi ETL) has no vector
search at all — this is extension surface, grouped with
``similarity.ivf_topk`` / ``lsh_ann_topk`` (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize

__all__ = [
    "pq_subvectors",
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "pq_adc_rerank_topk",
]


def _sq_dist(a: str, b: str) -> F.Column:
    """Squared L2 between two array<double> columns — sequential
    zip_with/aggregate fold, the engine-portable double order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _codebook_map(codebook: DataFrame) -> DataFrame:
    """Fold the m·k-row codebook into ONE row holding a
    sub → [(cluster, centroid)] map — the broadcast shape that lets
    nearest-centroid assignment run as a pure array expression (no
    join, no keyed argmin exchange).  Same bytes the per-row broadcast
    join already shipped; `array_sort` pins the in-cell order so the
    plan is deterministic regardless of collect order."""
    return (
        codebook.groupBy("sub")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cluster", "centroid"))
            ).alias("cell")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("sub", "cell"))
            ).alias("__cb")
        )
    )


def _nearest_code(sx_col: str) -> F.Column:
    """argmin over the bound row's ``__cb[sub]`` cell: min struct of
    (squared sub-distance, cluster) — identical ordering to the old
    ``min(struct(d, c))`` aggregate (NULL distance smallest, ties to
    the lower cluster id), evaluated per row instead of per group.

    ``try_element_at``: under ANSI mode (Spark 4 default) a plain
    ``element_at`` THROWS on a sub key missing from the codebook, where
    the old broadcast join silently dropped the row — a malformed/empty
    codebook must degrade (NULL code, filtered by consumers) instead of
    killing the stage."""
    return F.array_min(
        F.transform(
            F.try_element_at(F.col("__cb"), F.col("sub")),
            lambda c: F.struct(
                _sq_dist(sx_col, c["centroid"]).alias("d"),
                c["cluster"].alias("c"),
            ),
        )
    )


def pq_subvectors(
    embeddings: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, sx): each vector split into ``m`` contiguous
    subvectors of ``size(x) div m`` dims (trailing remainder dims are
    ignored when dim % m != 0 — document corpora pad to fixed dims, so
    in practice the split is exact).  NULL / empty vectors drop out
    (posexplode of a NULL array yields no rows), so one bad row never
    kills the stage."""
    sub_expr = (
        f"transform(sequence(0, {m - 1}), "
        f"j -> slice(x, j * (size(x) div {m}) + 1, size(x) div {m}))"
    )
    return (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.transform(vec_col, lambda v: v.cast("double")).alias("x"),
        )
        .select("id", F.posexplode(F.expr(sub_expr)).alias("sub", "sx"))
        .filter(F.size("sx") > 0)
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace Lloyd's k-means on the exact lane → codebook
    (sub, cluster, centroid array<double>).

    All ``m`` subspaces train in the SAME DataFrame pass — ``sub`` is
    just another grouping key — so the iteration count, not m, sets the
    number of Spark jobs.  Init: the k lowest-id vectors' subvectors
    per subspace (reproducible across runs/partitionings).  Update:
    per-(sub, cluster, dim) DECIMAL(27,18) sums, mean = ONE double
    division of the exact sum (order-free).  Assignment ties break
    toward the lower cluster id; empty clusters drop out.  Each round's
    codebook is materialized, so iters don't stack plans.
    """
    pts = materialize(
        pq_subvectors(embeddings, m, id_col, vec_col),
        "PQ subvectors: read by every training round",
    )
    w = Window.partitionBy("sub").orderBy("id")
    cents = materialize(
        pts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "sub",
            (F.col("rn") - 1).cast("long").alias("cluster"),
            F.col("sx").alias("centroid"),
        ),
        "PQ initial codebook",
    )
    for _ in range(iters):
        # nearest-centroid assignment as a pure expression over the
        # one-row codebook map: the old broadcast-join + groupBy(id,
        # sub) argmin shuffled every subvector once per iteration just
        # to keep one row per point — the argmin needs no exchange at
        # all (guide §2.4); ordering is the identical min(struct(d, c))
        assigned = (
            pts.crossJoin(F.broadcast(_codebook_map(cents)))
            .withColumn("__best", _nearest_code("sx"))
            # NULL __best (sub missing from a malformed codebook) drops
            # out exactly like the old broadcast join's non-match
            .filter(F.col("__best").isNotNull())
            .select("id", "sub", F.col("__best.c").alias("cluster"), "sx")
        )
        cells = assigned.select("sub", "cluster", F.posexplode("sx").alias("dim", "v"))
        cents = materialize(
            cells.groupBy("sub", "cluster", "dim")
            .agg(
                F.sum(F.col("v").cast("decimal(27,18)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .withColumn("mn", F.col("s").cast("double") / F.col("n"))
            .groupBy("sub", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mn"))).alias("cells"))
            .select(
                "sub",
                "cluster",
                F.transform(F.col("cells"), lambda c: c.getField("mn")).alias(
                    "centroid"
                ),
            ),
            "PQ codebook: read by the next round's assignment",
        )
    return cents


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, code): nearest-centroid assignment per subspace.

    One pure-expression pass over the corpus's subvectors with the
    m·k-row codebook folded into a single broadcast map row — a single
    linear scan, zero shuffle and zero keyed argmin (the per-row
    ``array_min`` replays the old min(struct) ordering exactly)."""
    pts = pq_subvectors(embeddings, m, id_col, vec_col)
    return (
        pts.crossJoin(F.broadcast(_codebook_map(codebook)))
        .withColumn("__best", _nearest_code("sx"))
        # NULL __best (sub missing from a malformed codebook) drops out
        # exactly like the old broadcast join's non-match
        .filter(F.col("__best").isNotNull())
        .select("id", "sub", F.col("__best.c").alias("code"))
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric distance computation: approximate L2 top-k per query
    over PQ codes — (query_id, vec_id, adc_dist, rank).

    Pass ``codes`` (id, sub, code — e.g. a persisted index table read
    back from the catalog) to search WITHOUT touching ``embeddings`` at
    all: the train-once/encode-once/search-many deployment shape, where
    the full-precision corpus is never re-read after encode time.

    The distance table (query × sub × centroid squared sub-distances,
    nq·m·k rows) is built once and broadcast; each corpus vector is
    then scored by joining its m codes to the table and summing — the
    full-precision corpus vectors are never touched.  Per-(query, id)
    sums accumulate in DECIMAL(27,18) (the m addends can land in any
    partition order; decimal keeps the sum order-free and
    oracle-exact).  Ties break by vec_id; the final rounded double is
    for humans, ranking happens on the exact decimal."""
    if codes is None:
        codes = pq_encode(embeddings, codebook, m, id_col, vec_col)
    qpts = pq_subvectors(queries, m, query_id_col, vec_col).select(
        F.col("id").alias("qid"), "sub", F.col("sx").alias("qx")
    )
    dtab = (
        qpts.join(F.broadcast(codebook), "sub")
        .select(
            "qid",
            "sub",
            "cluster",
            _sq_dist("qx", "centroid").cast("decimal(27,18)").alias("pd"),
        )
    )
    scored = codes.join(
        F.broadcast(dtab),
        (codes.sub == dtab.sub) & (codes.code == dtab.cluster),
    ).groupBy("qid", "id").agg(F.sum("pd").alias("adc_dec"))
    if exclude_self:
        scored = scored.filter(F.col("id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dec"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("id").alias(id_col),
            F.round(F.col("adc_dec"), 6).cast("double").alias("adc_dist"),
            "rank",
        )
    )


def pq_adc_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    r: int = 100,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC shortlist + exact re-rank — the production PQ search shape
    (IVFADC with verification): the code table nominates ``r``
    candidates per query (cheap, compressed domain), then ONLY those
    nq·r full-precision vectors are read back and exactly re-ranked to
    the final top-``k`` by true squared L2.

    This is where PQ's approximation error gets bought back: raw ADC
    recall@10 on near-random corpora is modest (quantization flattens
    fine distances), but the true neighbors almost always survive into
    a 10×k shortlist — measured on the repo testdata, recall@10 jumps
    from ~23% (raw ADC) to ~90% (r=100 re-rank) while still touching
    full vectors for only r/N of the corpus per query.

    Scale posture: the nq·r candidate list is broadcast back against
    the corpus (one hash-join probe of the big side, no shuffle), the
    query vectors are broadcast, and the final top-k windows over nq·r
    rows.  Returns (query_id, vec_id, l2_dist, rank) with ranking on
    the raw double distance (deterministic sequential fold — identical
    in any engine) and ties by id.
    """
    cand = pq_adc_topk(
        embeddings, queries, codebook, k=r, m=m,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        codes=codes,
    ).select(query_id_col, id_col)
    qv = F.broadcast(
        queries.select(
            query_id_col,
            F.transform(vec_col, lambda v: v.cast("double")).alias("__qx"),
        )
    )
    rer = (
        embeddings.select(
            id_col,
            F.transform(vec_col, lambda v: v.cast("double")).alias("__x"),
        )
        .join(F.broadcast(cand), id_col)
        .join(qv, query_id_col)
        .withColumn("__d", _sq_dist("__x", "__qx"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("__d"), F.asc(id_col))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round(F.col("__d").cast("decimal(27,18)"), 6)
            .cast("double")
            .alias("l2_dist"),
            "rank",
        )
    )
